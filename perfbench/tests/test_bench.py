"""Self-tests of the benchmark's own pieces (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""

import csv
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen_playlists  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402


def published(model):
    """The rows a correct program publishes for ``model``, as Spark's CSV
    writer renders them (every field a string)."""
    return {
        "song": [{"song_id": s, "album_id": al, "artist_id": ar}
                 for s, (al, ar) in model["song_fk"].items()],
        "artist": [{"artist_id": k, "name": v[0], "url": v[1]}
                   for k, v in model["artists"].items()],
        "album": [{"album_id": k, "name": v[0], "release_date": v[1],
                   "total_tracks": v[2], "url": v[3]} for k, v in model["albums"].items()],
    }


def write_run(out_dir, run, rows):
    for table, recs in rows.items():
        d = os.path.join(out_dir, "%s_data" % table, "run=%s" % run)
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.csv"), "w", newline="") as fh:
            w = csv.DictWriter(fh, fieldnames=list(recs[0]))
            w.writeheader()
            w.writerows(recs)


class GeneratorTest(unittest.TestCase):

    def test_deterministic_per_seed(self):
        a, fa = gen_playlists.generate(7, 3)
        b, fb = gen_playlists.generate(7, 3)
        self.assertEqual(a, b)
        self.assertEqual(fa, fb)

    def test_differs_across_seeds(self):
        a, _ = gen_playlists.generate(7, 3)
        b, _ = gen_playlists.generate(8, 3)
        self.assertNotEqual(a, b)

    def test_fixture_properties(self):
        pages, facts = gen_playlists.generate(3, 4)
        items = [it for p in pages for it in p["items"]]
        self.assertEqual(len(items), 4 * gen_playlists.ITEMS_PER_PAGE)
        # shared artists and albums, inside one page as well as across pages
        first = pages[0]["items"]
        albums = [it["track"]["album"]["id"] for it in first]
        artists = [it["track"]["artists"][0]["id"] for it in first]
        self.assertLess(len(set(albums)), len(albums))
        self.assertLess(len(set(artists)), len(artists))
        model = gen_playlists.batch_model(facts)
        self.assertGreaterEqual(model["songs"] / len(model["albums"]), 2)
        # the keep-first winner is observable: occurrences differ
        names = {}
        for it in items:
            names.setdefault(it["track"]["album"]["id"], set()).add(it["track"]["album"]["name"])
        self.assertTrue(any(len(v) > 1 for v in names.values()))
        # all three release_date precisions
        lengths = {len(it["track"]["album"]["release_date"]) for it in items}
        self.assertEqual(lengths, {4, 7, 10})
        # multi-artist tracks whose extra artists are never primary
        extra = {a["id"] for it in items for a in it["track"]["artists"][1:]}
        primary = {it["track"]["artists"][0]["id"] for it in items}
        self.assertTrue(extra)
        self.assertFalse(extra & primary)

    def test_page_model_dedups_within_the_page_only(self):
        _, facts = gen_playlists.generate(5, 3)
        batch = gen_playlists.batch_model(facts)
        per_page = sum(len(gen_playlists.page_model(facts, p)["albums"]) for p in range(3))
        self.assertGreater(per_page, len(batch["albums"]))

    def test_release_dates_parse_to_first_of_period(self):
        _, facts = gen_playlists.generate(5, 2)
        pages, _ = gen_playlists.generate(5, 2)
        raw = {it["track"]["album"]["id"]: it["track"]["album"]["release_date"]
               for p in pages for it in p["items"]}
        for f in facts:
            r, parsed = raw[f["album"][0]], f["album"][2]
            self.assertTrue(parsed.startswith(r))
            self.assertEqual(len(parsed), 10)


class CheckerTest(unittest.TestCase):

    def setUp(self):
        _, facts = gen_playlists.generate(11, 3)
        self.model = gen_playlists.batch_model(facts)
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def run_check(self, rows):
        run = str(len(os.listdir(self.tmp.name)))
        write_run(os.path.join(self.tmp.name, run), "r", rows)
        return checks.check_star(checks.read_run(os.path.join(self.tmp.name, run), "r"),
                                 self.model)

    def test_accepts_correct_output(self):
        self.assertEqual(self.run_check(published(self.model)), [])

    def test_rejects_dropped_dim_row(self):
        rows = published(self.model)
        rows["artist"] = rows["artist"][1:]
        problems = self.run_check(rows)
        self.assertTrue(any("artists" in p for p in problems))
        self.assertTrue(any("without a matching dim row" in p for p in problems))

    def test_rejects_wrong_keep_first_winner(self):
        rows = published(self.model)
        album = rows["album"][0]
        album["name"] = album["name"].rsplit(" v", 1)[0] + " v9"
        problems = self.run_check(rows)
        self.assertEqual(len(problems), 1)
        self.assertIn("keep-first", problems[0])

    def test_rejects_duplicate_dim_key(self):
        rows = published(self.model)
        rows["album"].append(dict(rows["album"][0]))
        self.assertTrue(any("duplicate" in p for p in self.run_check(rows)))

    def test_rejects_missing_song(self):
        rows = published(self.model)
        rows["song"].pop()
        self.assertTrue(any(p.startswith("songs:") for p in self.run_check(rows)))


class TableModelTest(unittest.TestCase):

    def test_rounds_apply_append_upsert_delete(self):
        with tempfile.TemporaryDirectory() as d:
            gen_tables.write({"init": gen_tables.lineitem_slice(1, 200),
                              "r1_append": gen_tables.lineitem_slice(2, 20, 200),
                              "r1_merge": gen_tables.lineitem_slice(3, 10, 100)}, d)
            m = checks.TableModel(d)
            n0, _ = m.digest()
            m.round(1)
            deleted = sum(1 for i in range(220) if i % 97 == 1)
            n1, h1 = m.digest()
            self.assertEqual((n0, n1), (200, 220 - deleted))
            self.assertEqual(h1, sum(checks.row_hash(r) for r in m.rows.values()))


class StatsTest(unittest.TestCase):

    def test_tail_picks_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90.0, 100))
        self.assertEqual(stats.tail(list(range(1, 1001))), (990, 99.0, 1000))
        self.assertEqual(stats.tail(list(range(1, 201))), (190, 95.0, 200))
        self.assertEqual(stats.tail(list(range(40, 0, -1))), (30, 75.0, 40))

    def test_tail_falls_back_to_median_below_twenty_samples(self):
        self.assertEqual(stats.tail(list(range(1, 20))), (10, 50.0, 19))
        self.assertEqual(stats.tail(list(range(1, 21))), (10, 50.0, 20))

    def test_union_and_self_time(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_ms([(0, 10), (5, 15)], 8, 12), 4)
        spans = [{"id": 0, "parent": -1, "name": "op", "start": 0, "end": 100},
                 {"id": 1, "parent": 0, "name": "a", "start": 10, "end": 40},
                 {"id": 2, "parent": 0, "name": "b", "start": 30, "end": 60}]
        st = stats.self_times(spans)
        self.assertEqual(st["op"], (100, 50, 1))
        self.assertEqual(st["a"], (30, 30, 1))

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([10, 10, 10, 10]), 0.0)
        self.assertGreater(stats.spread([8, 10, 12, 14]), 0.2)


if __name__ == "__main__":
    unittest.main()
