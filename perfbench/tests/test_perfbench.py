"""Self-tests of the benchmark. Run: python3 -m unittest discover -s perfbench/tests"""

import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import etl_data  # noqa: E402
import run  # noqa: E402

SMALL = etl_data.Spec(songs=40, days=3, events_per_day=200, users=20, poison_every=2)


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, dirs, names in os.walk(root):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def generate(self, seed, layout):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d, ignore_errors=True)
        return d, etl_data.generate(d, seed, SMALL, layout)

    def test_same_seed_gives_identical_files(self):
        for layout in ("batch", "incremental"):
            a, ma = self.generate(5, layout)
            b, mb = self.generate(5, layout)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertEqual(ma, mb)
            c, _ = self.generate(6, layout)
            self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_song_files_use_the_msd_fan_out(self):
        d, _ = self.generate(5, "batch")
        files = [os.path.relpath(os.path.join(p, n), d) for p, _, ns in os.walk(d) for n in ns]
        songs = [f for f in files if f.startswith("song_data")]
        self.assertEqual(len(songs), SMALL.songs)
        for f in songs:
            self.assertRegex(f, r"^song_data/([A-Z])/([A-Z])/([A-Z])/TR\1\2\3[A-Z]+\.json$")
            with open(os.path.join(d, f)) as fh:
                self.assertIsInstance(json.loads(fh.read()), dict)

    def test_poisoned_files_do_not_parse_strictly(self):
        d, m = self.generate(5, "incremental")
        poisoned = [f for f in m["files"] if f["poisoned"]]
        self.assertTrue(poisoned)
        for f in poisoned:
            self.assertIsNone(f["expected"])
            bad = 0
            with open(os.path.join(d, "raw", f["name"])) as fh:
                for line in fh:
                    try:
                        e = json.loads(line)
                    except ValueError:
                        bad += 1
                        continue
                    if not isinstance(e.get("ts"), float):
                        # the read must reach the field: the row passes the NextSong filter
                        self.assertEqual(e["page"], "NextSong")
                        bad += 1
            self.assertEqual(bad, 1)

    def test_data_carries_the_reference_corners(self):
        d, _ = self.generate(5, "batch")
        events = etl_data._reparse(d)
        pages = [e["page"] for e in events]
        self.assertTrue(0.1 < 1 - pages.count("NextSong") / len(pages) < 0.3)
        ids = [e.get("userId") for e in events]
        self.assertIn("", ids)
        self.assertIn(None, ids)
        self.assertGreater(len({e["ts"] // (365 * 86_400_000) for e in events}), 1)
        rows = etl_data.users_rows(events)
        users = [r[0] for r in rows]
        self.assertGreater(len(users), len(set(users)), "a tied maximum ts keeps two rows")


class OracleFixtureTest(unittest.TestCase):
    """FIXTURES.md A2's corners, built by hand."""

    song = dict(artist_id="AR1", artist_latitude=None, artist_longitude=None,
                artist_location="NYC", artist_name="The Examples", song_id="SO1",
                title="Test Song", duration=221.17, year=2019)

    def ev(self, **kw):
        """A log event in the reference schema; keyword args override fields."""
        base = dict(artist=None, auth="Logged In", firstName="Ada", gender="F",
                    itemInSession=0, lastName="L", length=None, level="free",
                    location="NYC", method="PUT", page="NextSong", registration=1.5e12,
                    sessionId=1, song=None, status=200, ts=1542241826796.0,
                    userAgent="UA", userId="26")
        base.update(kw)
        return base

    def events(self):
        t = 1542241826796.0
        return [
            self.ev(ts=t - 5000, level="free", song="Test Song", artist="The Examples", length=221.17),
            # tied maximum ts: both rows are kept
            self.ev(ts=t, level="free"),
            self.ev(ts=t, level="paid", itemInSession=1),
            # a later non-NextSong event does not count
            self.ev(ts=t + 9000, page="Home", level="paid"),
            # empty and null userId: dropped from users, kept in songplays
            self.ev(ts=t + 100, userId="", firstName=None),
            {k: v for k, v in self.ev(ts=t + 200).items() if k != "userId"},
            # same second as the tie (time_table distinct); near miss on length
            self.ev(ts=t + 1, userId="27", firstName="Ben", gender="M",
                    song="Test Song", artist="The Examples", length=221.18),
        ]

    def test_users(self):
        rows = sorted(etl_data.users_rows(self.events()))
        self.assertEqual(rows, [("26", "Ada", "L", "F", "free"), ("26", "Ada", "L", "F", "paid"),
                                ("27", "Ben", "L", "M", "free")])

    def test_time(self):
        # 2018-11-15 00:30:26 UTC is a Thursday (dayofweek 5) of ISO week 46;
        # the events at t, t+1 ms, t+100 ms and t+200 ms share that second.
        self.assertEqual(etl_data.time_rows(self.events()),
                         [(1542241821, 0, 15, 46, 11, 2018, 5), (1542241826, 0, 15, 46, 11, 2018, 5)])

    def test_songplays(self):
        rows = etl_data.songplays_rows([self.song], self.events())
        self.assertEqual(len(rows), 6)
        matched = [r for r in rows if r[3] is not None]
        self.assertEqual([(r[3], r[4]) for r in matched], [("SO1", "AR1")])
        self.assertIn("", [r[1] for r in rows])
        self.assertIn(None, [r[1] for r in rows])
        self.assertTrue(all(r[8:] == (2018, 11) for r in rows))

    def test_digest_is_order_free(self):
        rows = etl_data.users_rows(self.events())
        self.assertEqual(etl_data.digest(rows), etl_data.digest(list(reversed(rows))))
        self.assertNotEqual(etl_data.digest(rows), etl_data.digest(rows[1:]))


class ChecksTest(unittest.TestCase):
    def test_a_stream_drain_is_checked_against_its_file(self):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d, ignore_errors=True)
        m = etl_data.generate(d, 5, SMALL, "incremental")
        good = next(f["name"] for f in m["files"] if f["expected"])
        rec = dict(name=run.STREAM + good, ok=True, error="", extra={"snapshot": os.path.join(d, "none")})
        self.assertIn("unreadable", run.check_incremental(rec, m))
        self.assertIn("failed", run.check_incremental(dict(rec, ok=False, error="boom"), m))

    def test_catalog_cells_compare_exactly_and_by_type(self):
        import catalog_check
        from decimal import Decimal
        self.assertTrue(catalog_check.same((1, 0.5, "a", None), (1, 0.5, "a", None)))
        self.assertFalse(catalog_check.same((1,), (1.0,)))
        self.assertFalse(catalog_check.same((Decimal("1.5"),), (1.5,)))
        self.assertFalse(catalog_check.same((0.1 + 0.2,), (0.3,)))
        self.assertFalse(catalog_check.same(([1, 2],), ([1, 2.0],)))


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class MetricsTest(unittest.TestCase):
    bench = run.load_benchmark()

    def test_benchmark_json_shape(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertRegex(w["name"], NAME)
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))

    def fake_result(self):
        def rec(i, phase, name, seconds, ok=True):
            return dict(i=i, tag=f"{phase}-{i}", phase=phase, name=name, seconds=seconds, ok=ok,
                        error="", extra={}, pins=2, pinned_bytes=2 ** 20, heap_live_kb=1024 * (100 + i),
                        counters={"jobs": 3.0, "tasks": 8.0, "run_ms": 900.0,
                                  "stage_write_ms": 330.0} if phase == "traced" else {})
        records = []
        for i in range(12):
            records.append(rec(i, "untraced", f"q{i % 3}", 1.0 + i / 100))
            records.append(rec(i, "traced", f"q{i % 3}", 1.1 + i / 100))
        res = dict(setup=dict(setup_s=9.5, build_s=6.0, warmup_s=3.0), peak_rss_kb=1024 * 2600,
                   heap_committed_kb=1024 * 2048,
                   info={"composition": ["q2"], "oracle_sql": {"q0": "select 1"}},
                   **{"global": {"unattributed_tasks": 4.0}})
        return res, records

    def test_every_metric_is_computed_and_printed_with_its_unit(self):
        res, records = self.fake_result()
        untraced = [r for r in records if r["phase"] == "untraced"]
        traced = [r for r in records if r["phase"] == "traced"]
        layer = run.per_layer(res, untraced, traced, 4, {"q2"})
        e2e = run.end_to_end(res, untraced)
        for values, spec in ((e2e, self.bench["end_to_end"]), (layer, self.bench["per_layer"])):
            printed = run.metrics_json(spec, values)
            self.assertEqual(list(printed), [m["name"] for m in spec])
            for m in spec:
                self.assertEqual(printed[m["name"]]["unit"], m["unit"])
                self.assertIsInstance(printed[m["name"]]["value"], float)
        self.assertAlmostEqual(layer["trace.overhead_s"], 0.1)
        self.assertAlmostEqual(layer["operators.pinned_mb"], 1.0)
        self.assertAlmostEqual(layer["exec.unattributed_tasks"], 4 / 12)
        self.assertAlmostEqual(layer["pipeline.write_stage_s"], 0.33)
        # the largest live heap (111 MB) plus what lies outside the 2 GB heap
        self.assertAlmostEqual(e2e["peak_mem_mb"], 111 + 2600 - 2048)
        self.assertGreater(e2e["op_p90_s"], e2e["op_p50_s"])
        for v in e2e.values():
            self.assertGreater(v, 0)


if __name__ == "__main__":
    unittest.main()
