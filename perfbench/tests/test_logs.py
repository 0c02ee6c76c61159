"""Latency and percentile math on synthetic sink and checkpoint logs.

    python3 -m unittest discover -s perfbench/tests -p 'test_logs.py'
"""
import datetime
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import logs  # noqa: E402

BASE = 1_800_000_000_000  # epoch ms of the synthetic run


def iso(ms):
    return datetime.datetime.fromtimestamp(ms / 1000.0, datetime.timezone.utc) \
        .isoformat(timespec="milliseconds").replace("+00:00", "Z")


class Run:
    """Writes a synthetic loop run: files at given times, Spark's log shapes."""

    def __init__(self, root):
        self.root = root
        self.offsets = {}

    def path(self, *parts):
        p = os.path.join(self.root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def write(self, rel, text, at):
        p = self.path(*rel.split("/"))
        with open(p, "w") as f:
            f.write(text)
        os.utime(p, ns=(int((BASE + at) * 1e6),) * 2)
        return p

    def log(self, rel, entries, at):
        return self.write(rel, "v1\n" + "\n".join(json.dumps(e) for e in entries), at)

    def batch(self, query, b, start, commit, reads):
        """``reads``: {source index: [files]}. Each source that finds files
        takes its next log offset, as a file source does."""
        offs = self.offsets.setdefault(query, {})
        for i, files in sorted(reads.items()):
            offs[i] = n = offs.get(i, -1) + 1
            self.log("cp/%s/sources/%d/%d" % (query, i, n),
                     [{"path": "file://" + os.path.join(self.root, f), "timestamp": 0,
                       "batchId": n} for f in files], start)
        lines = [json.dumps({"logOffset": offs[i]}) if i in offs else "-"
                 for i in range(max(offs) + 1)]
        self.write("cp/%s/offsets/%d" % (query, b), "v1\n{}\n" + "\n".join(lines), start)
        self.write("cp/%s/commits/%d" % (query, b), "v1\n{}\n", commit)

    def sink(self, topic, b, files, at, compact_with=()):
        entries = [{"path": "file://" + os.path.join(self.root, "topics", topic, f)}
                   for f in list(compact_with) + files]
        name = "%d.compact" % b if compact_with else str(b)
        self.log("topics/%s/_spark_metadata/%s" % (topic, name), entries, at)


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = list(range(1, 101))
        self.assertEqual(logs.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(logs.percentile(xs, 95), 95.05)
        self.assertEqual(logs.percentile([7], 95), 7)
        self.assertEqual(logs.median([3, 1, 2]), 2)

    def test_empty_is_nan(self):
        self.assertNotEqual(logs.percentile([], 50), logs.percentile([], 50))

    def test_weighted_expands_per_record(self):
        self.assertEqual(logs.weighted([(5.0, 2), (9.0, 1)]), [5.0, 5.0, 9.0])


class LogTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.run = Run(self.tmp.name)

    def tearDown(self):
        self.tmp.cleanup()

    def test_source_log_offsets_map_to_query_batches(self):
        r = self.run
        r.batch("t1", 0, 10, 20, {0: ["a"]})
        r.batch("t1", 1, 30, 40, {1: ["b"]})
        r.batch("t1", 2, 50, 60, {0: ["c"], 1: ["d"]})
        got = logs.read_source_log(os.path.join(r.root, "cp", "t1"))
        self.assertEqual({os.path.basename(f): b for f, b in got.items()},
                         {"a": 0, "b": 1, "c": 2, "d": 2})

    def test_compact_sink_log_keeps_only_new_files(self):
        r = self.run
        r.sink("events", 0, ["a.txt"], 100)
        r.sink("events", 1, ["b.txt"], 200, compact_with=["a.txt"])
        got = logs.read_sink_log(os.path.join(r.root, "topics", "events"))
        self.assertEqual(sorted(got), [0, 1])
        self.assertEqual([os.path.basename(f) for f in got[1][1]], ["b.txt"])
        self.assertAlmostEqual(got[1][0], BASE + 200, places=3)

    def _loop(self):
        """One tick of 10 orders due at 800 ms; the orders reach t1's
        batch 0 (visible at 2500); two RETURNs expire at 3100 and 3200
        and reach t1's batch 1 (visible at 4000)."""
        r = self.run
        r.write("topics/orders/orders_000000.json", "{}\n" * 10, 900)
        r.batch("j1", 0, 1000, 1500, {0: ["topics/orders/orders_000000.json"]})
        r.sink("updaters", 0, ["u0.txt"], 1400)
        r.write("topics/updaters/u0.txt", "", 1300)
        r.batch("t1", 0, 2000, 2600, {0: ["topics/updaters/u0.txt"]})
        r.sink("events", 0, ["e0.txt"], 2500)
        r.write("topics/events/e0.txt", "", 2400)
        r.batch("t2", 0, 3000, 3500, {0: ["topics/events/e0.txt"]})
        ret = "".join(json.dumps({"key": "T1", "value": {"time": iso(BASE + t), "updaterType": "RETURN"}})
                      + "\n" for t in (3100, 3200))
        r.write("topics/returns/r0.txt", ret, 3300)
        r.sink("returns", 0, ["r0.txt"], 3400)
        r.batch("t1", 1, 3600, 4100, {2: ["topics/returns/r0.txt"]})
        r.sink("events", 1, ["e1.txt"], 4000)
        r.write("topics/events/e1.txt", "", 3900)
        return {"root": r.root, "measure_start_ms": BASE, "gen_end_ms": BASE + 1000,
                "ticks": [{"tick": 0, "measured": True, "due_ms": BASE + 800,
                           "publish_ms": BASE + 900, "orders": 10, "invests": 0}]}

    def test_end_to_end_latencies_follow_the_lineage(self):
        e2e, layer = logs.loop_metrics(self._loop())
        self.assertAlmostEqual(e2e["order_latency_p50_ms"], 1700, places=3)
        self.assertAlmostEqual(e2e["order_latency_p95_ms"], 1700, places=3)
        self.assertAlmostEqual(e2e["return_latency_p50_ms"], 850, places=3)
        self.assertAlmostEqual(e2e["sustained_rps"], 10 / 1.7, places=6)
        self.assertAlmostEqual(e2e["drain_s"], 3.0, places=6)
        self.assertEqual(layer["support.orders"], 10)
        self.assertEqual(layer["support.order_batches"], 1)
        self.assertEqual(layer["support.returns"], 2)

    def test_waits_and_hops_per_query(self):
        _, layer = logs.loop_metrics(self._loop())
        # orders file published at 900: j1 batch starts 1000, visible 1400
        self.assertAlmostEqual(layer["sources.j1.wait_p50_ms"], 100, places=3)
        self.assertAlmostEqual(layer["streaming.j1.hop_p50_ms"], 500, places=3)
        # t1 reads j1 output (visible 1400, batch at 2000 → 2500) and t2
        # output (visible 3400, batch at 3600 → 4000)
        self.assertAlmostEqual(layer["sources.t1.wait_p50_ms"], (600 + 200) / 2, places=3)
        self.assertAlmostEqual(layer["streaming.t1.hop_p50_ms"], (1100 + 600) / 2, places=3)
        self.assertEqual(layer["sources.orders.backlog_end"], 0)

    def test_unread_orders_are_backlog_not_latency(self):
        loop = self._loop()
        os.remove(os.path.join(self.run.root, "cp", "t1", "sources", "0", "0"))
        e2e, layer = logs.loop_metrics(loop)
        self.assertEqual(layer["support.orders"], 0)
        self.assertNotEqual(e2e["order_latency_p50_ms"], e2e["order_latency_p50_ms"])  # NaN


class ProgressTest(unittest.TestCase):
    def progress(self, batch, at, rows, trigger, commit):
        return {"query": "j1", "progress": json.dumps({
            "timestamp": iso(BASE + at), "batchId": batch, "numInputRows": rows,
            "durationMs": {"triggerExecution": trigger, "addBatch": trigger - 100,
                           "latestOffset": 10, "getBatch": 5, "queryPlanning": 20,
                           "walCommit": 30, "commitOffsets": 40},
            "stateOperators": [{"commitTimeMs": commit, "numRowsTotal": 1,
                                "numShufflePartitions": 4,
                                "customMetrics": {"rocksdbCommitFileSyncLatencyMs": commit // 2}}]})}

    def test_medians_over_batches_that_read_input(self):
        rows = [self.progress(0, -500, 99, 9999, 999),  # before the window
                self.progress(1, 0, 100, 1000, 400),
                self.progress(2, 1000, 300, 2000, 600),
                self.progress(3, 3000, 0, 500, 50)]
        m = logs.progress_metrics(rows, BASE)
        self.assertEqual(m["streaming.j1.batches"], 3)
        self.assertEqual(m["streaming.j1.empty_batches"], 1)
        self.assertEqual(m["streaming.j1.trigger_p50_ms"], 1500)
        self.assertEqual(m["state.j1.commit_task_sum_ms"], 500)
        self.assertEqual(m["state.j1.file_sync_task_sum_ms"], 250)
        self.assertEqual(m["state.j1.partitions"], 4)
        self.assertEqual(m["streaming.j1.rows_per_batch"], 200)
        self.assertAlmostEqual(m["streaming.j1.rps"], 400 / 3.0)
        self.assertAlmostEqual(m["streaming.j1.busy_frac"], 3500 / 3500)


class CatalogTest(unittest.TestCase):
    def test_totals_geomean_and_families(self):
        qs = [{"name": "g_bfs", "family": "g", "construct_ms": 100, "execute_ms": 300},
              {"name": "q6_revenue", "family": "rest", "construct_ms": 50, "execute_ms": 50},
              {"name": "ta_x", "family": "ta", "construct_ms": 1, "execute_ms": 1, "error": "boom"}]
        stages = [{"tasks": 1, "wall_ms": 100, "max_task_ms": 100, "cpu_ns": 2e9, "gc_ms": 10,
                   "shuffle_write_bytes": 2 ** 20, "spill_bytes": 0},
                  {"tasks": 4, "wall_ms": 100, "max_task_ms": 50, "cpu_ns": 1e9, "gc_ms": 0,
                   "shuffle_write_bytes": 0, "spill_bytes": 2 ** 21}]
        e2e, layer = logs.catalog_metrics(qs, stages, ("g", "ta", "rest"))
        self.assertAlmostEqual(e2e["catalog_total_s"], 0.5)
        self.assertAlmostEqual(e2e["catalog_geomean_ms"], 200.0)
        self.assertAlmostEqual(layer["catalog.g_s"], 0.4)
        self.assertAlmostEqual(layer["catalog.ta_s"], 0.0)
        self.assertEqual(layer["engine.single_task_stages"], 1)
        self.assertEqual(layer["engine.tasks"], 5)
        self.assertAlmostEqual(layer["engine.task_cpu_s"], 3.0)
        self.assertAlmostEqual(layer["engine.shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(layer["engine.spill_mb"], 2.0)
        self.assertAlmostEqual(layer["engine.max_task_share"], 0.75)


if __name__ == "__main__":
    unittest.main()
