"""Seeded Spotify playlist-page generator and its expected-output model.

Pages follow FIXTURES.md section 1: a top-level object with an ``items``
array of ``{added_at, track{...}}``. The generator guarantees the edge cases
the ETL semantics hinge on:

* shared artists and albums: the album pool holds one album per
  ``DUP_RATIO`` items, and each page draws its items from a palette of
  ``PALETTE`` albums out of that pool, so albums repeat inside a page and
  across pages. A 100-page input has about 6.4 items per distinct album and
  11 per distinct primary artist; one page has about 4.2 items per album;
* every occurrence of an artist or album carries one of several attribute
  variants (name, url, total_tracks), so the keep-first winner is visible in
  the output and a wrong winner is detectable;
* ``release_date`` at all three precisions (``yyyy``, ``yyyy-MM``,
  ``yyyy-MM-dd``);
* multi-artist tracks, whose secondary artists never appear as a primary
  artist, so extracting anything but ``artists[0]`` changes the artist count.

The model is what the program must publish. ``batch_model`` is the
multi-page batch shape (keep-first over pages in file-name order, then item
position); ``page_model`` is one page on its own (the streaming shape, which
dedups within one file).
"""

import json
import os
import random
import sys

ITEMS_PER_PAGE = 50
DUP_RATIO = 4            # items per album in the album pool
PALETTE = 12             # distinct albums one page draws from
VARIANTS = 3             # attribute variants per artist / album
MULTI_ARTIST_SHARE = 0.2  # share of tracks with 2-3 artists


def page_name(i):
    # zero-padded so lexicographic file order equals landing order, the
    # order SpotifyTransform's keep-first relies on
    return "page_%06d.json" % i


def _release_date(rng, i):
    y = rng.randint(1960, 2023)
    kind = i % 3
    if kind == 0:
        return "%04d" % y, "%04d-01-01" % y
    m = rng.randint(1, 12)
    if kind == 1:
        return "%04d-%02d" % (y, m), "%04d-%02d-01" % (y, m)
    d = rng.randint(1, 28)
    return "%04d-%02d-%02d" % (y, m, d), "%04d-%02d-%02d" % (y, m, d)


def generate(seed, pages):
    """Return (list of page dicts, facts) for ``pages`` pages.

    ``facts`` holds per-item primary keys and attributes the model needs,
    so the model never re-parses the JSON.
    """
    rng = random.Random("playlists-%d" % seed)
    n_items = pages * ITEMS_PER_PAGE
    n_albums = max(PALETTE, n_items // DUP_RATIO)
    n_artists = max(PALETTE, n_albums // 2)
    artists = []
    for a in range(n_artists):
        aid = "ar%d%07d" % (seed % 1000, a)
        artists.append([{"id": aid, "name": "Artist %d v%d" % (a, v),
                         "external_urls": {"spotify": "https://open.spotify.com/artist/%s?v=%d" % (aid, v)}}
                        for v in range(VARIANTS)])
    albums = []
    for b in range(n_albums):
        bid = "al%d%07d" % (seed % 1000, b)
        raw, parsed = _release_date(rng, b)
        total = rng.randint(4, 20)
        albums.append({
            "artist": rng.randrange(n_artists),
            "variants": [{"id": bid, "name": "Album %d v%d" % (b, v),
                          "release_date": raw, "total_tracks": total + v,
                          "external_urls": {"spotify": "https://open.spotify.com/album/%s?v=%d" % (bid, v)}}
                         for v in range(VARIANTS)],
            "parsed": parsed,
        })
    # featured-only artists: appear only at artists[1:]
    featured = [{"id": "ft%d%07d" % (seed % 1000, f), "name": "Featured %d" % f,
                 "external_urls": {"spotify": "https://open.spotify.com/artist/ft%07d" % f}}
                for f in range(64)]
    out = []
    facts = []
    for p in range(pages):
        palette = [rng.randrange(n_albums) for _ in range(PALETTE)]
        items = []
        for pos in range(ITEMS_PER_PAGE):
            b = palette[rng.randrange(PALETTE)]
            album = albums[b]
            av = rng.randrange(VARIANTS)
            rv = rng.randrange(VARIANTS)
            primary = artists[album["artist"]][rv]
            track_artists = [primary]
            if rng.random() < MULTI_ARTIST_SHARE:
                track_artists += rng.sample(featured, rng.randint(1, 2))
            tid = "tr%d%06d%02d" % (seed % 1000, p, pos)
            items.append({
                "added_at": "2023-%02d-%02dT%02d:%02d:%02dZ" % (
                    rng.randint(1, 12), rng.randint(1, 28), rng.randint(0, 23),
                    rng.randint(0, 59), rng.randint(0, 59)),
                "track": {
                    "id": tid,
                    "name": "Song %d.%d" % (p, pos),
                    "duration_ms": rng.randint(90000, 420000),
                    "popularity": rng.randint(0, 100),
                    "external_urls": {"spotify": "https://open.spotify.com/track/%s" % tid},
                    "album": album["variants"][av],
                    "artists": track_artists,
                },
            })
            facts.append({
                "page": p, "song_id": tid,
                "album": (album["variants"][av]["id"], album["variants"][av]["name"],
                          album["parsed"], str(album["variants"][av]["total_tracks"]),
                          album["variants"][av]["external_urls"]["spotify"]),
                "artist": (primary["id"], primary["name"], primary["external_urls"]["spotify"]),
            })
        out.append({"items": items})
    return out, facts


def _model(facts):
    songs = {}
    artists = {}
    albums = {}
    for f in facts:  # facts are in (page, pos) order: first seen wins
        songs[f["song_id"]] = (f["album"][0], f["artist"][0])
        artists.setdefault(f["artist"][0], list(f["artist"][1:]))
        albums.setdefault(f["album"][0], list(f["album"][1:]))
    return {"songs": len(facts), "song_fk": songs,
            "artists": artists, "albums": albums}


def batch_model(facts):
    """Expected output of one batch run over all pages."""
    return _model(facts)


def page_model(facts, page):
    """Expected output of one micro-batch holding only ``page``."""
    return _model([f for f in facts if f["page"] == page])


def write_pages(pages, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for i, page in enumerate(pages):
        with open(os.path.join(out_dir, page_name(i)), "w", encoding="utf-8") as fh:
            # pretty-printed, as the reference lands pages (indent=2)
            json.dump(page, fh, indent=2)


def main(argv):
    """Write ``<out_dir>/pages/*.json`` and the batch model ``<out_dir>/model.json``."""
    if len(argv) != 4:
        sys.stderr.write("usage: gen_playlists.py <seed> <pages> <out_dir>\n")
        return 2
    seed, pages, out_dir = int(argv[1]), int(argv[2]), argv[3]
    data, facts = generate(seed, pages)
    write_pages(data, os.path.join(out_dir, "pages"))
    with open(os.path.join(out_dir, "model.json"), "w") as fh:
        json.dump(batch_model(facts), fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
