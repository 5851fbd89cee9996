"""Output checks: the published star schema against the generator's model,
and the versioned table against an in-memory model.

Each ETL check returns a list of problems (empty when the output is right).
"""

import csv
import glob
import os

import pyarrow.parquet as pq

TABLES = ("song", "artist", "album")


def read_csv_dir(path):
    """Rows (dicts) of every part file Spark wrote into ``path``."""
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(f, newline="", encoding="utf-8") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


def read_run(out_dir, run):
    return {t: read_csv_dir(os.path.join(out_dir, "%s_data" % t, "run=%s" % run))
            for t in TABLES}


def check_star(out, model):
    """Compare one published run (``read_run`` output) with its model."""
    problems = []
    songs, artists, albums = out["song"], out["artist"], out["album"]
    if len(songs) != model["songs"]:
        problems.append("songs: %d rows, expected %d" % (len(songs), model["songs"]))
    for name, rows, key, want in (("artists", artists, "artist_id", model["artists"]),
                                  ("albums", albums, "album_id", model["albums"])):
        keys = [r[key] for r in rows]
        if len(keys) != len(set(keys)):
            problems.append("%s: duplicate %s" % (name, key))
        if set(keys) != set(want):
            problems.append("%s: %d keys, expected %d (missing %d, extra %d)" % (
                name, len(set(keys)), len(want), len(set(want) - set(keys)),
                len(set(keys) - set(want))))
    artist_ids = {r["artist_id"] for r in artists}
    album_ids = {r["album_id"] for r in albums}
    orphans = sum(1 for s in songs
                  if s["artist_id"] not in artist_ids or s["album_id"] not in album_ids)
    if orphans:
        problems.append("songs: %d rows without a matching dim row" % orphans)
    fk = model["song_fk"]
    wrong_fk = sum(1 for s in songs
                   if tuple(fk.get(s["song_id"], ())) != (s["album_id"], s["artist_id"]))
    if wrong_fk:
        problems.append("songs: %d rows with wrong or unknown keys" % wrong_fk)
    wrong = 0
    for r in artists:
        exp = model["artists"].get(r["artist_id"])
        if exp is not None and [r["name"], r["url"]] != list(exp):
            wrong += 1
    for r in albums:
        exp = model["albums"].get(r["album_id"])
        got = [r["name"], r["release_date"], r["total_tracks"], r["url"]]
        if exp is not None and got != list(exp):
            wrong += 1
    if wrong:
        problems.append("dims: %d rows whose attributes are not the keep-first winner" % wrong)
    return problems


def stored_bytes(paths):
    total = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def data_files(path):
    """Data files Spark wrote under ``path`` (no checksums or markers)."""
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.startswith("part-"))
    return n


# ----------------------------------------------------------- table model

MOD = 1000000007


def row_hash(r):
    """Mirror of ``Workloads.tableDigest``'s per-row hash."""
    return (r["l_id"] * 1000003 + r["l_partkey"] * 1009 + int(r["l_quantity"]) * 13
            + int(round(r["l_extendedprice"] * 100))) % MOD


def _rows(path):
    return {r["l_id"]: r for r in pq.read_table(path).to_pylist()}


class TableModel:
    """The versioned table's content, replayed from the round inputs."""

    def __init__(self, inputs_dir):
        self.dir = inputs_dir
        self.rows = _rows(os.path.join(inputs_dir, "init.parquet"))

    def round(self, k):
        self.rows.update(_rows(os.path.join(self.dir, "r%d_append.parquet" % k)))
        self.rows.update(_rows(os.path.join(self.dir, "r%d_merge.parquet" % k)))
        for i in [i for i in self.rows if i % 97 == k % 97]:
            del self.rows[i]

    def digest(self):
        return len(self.rows), sum(row_hash(r) for r in self.rows.values())
