"""Unit tests of the benchmark's metric derivation.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analysis  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(analysis.tail_percentile(0))
        self.assertIsNone(analysis.tail_percentile(99))
        self.assertEqual(analysis.tail_percentile(100), 0.9)
        self.assertEqual(analysis.tail_percentile(999), 0.9)
        self.assertEqual(analysis.tail_percentile(1000), 0.99)
        self.assertEqual(analysis.tail_percentile(10000), 0.999)

    def test_summary_reports_only_supported_tails(self):
        self.assertEqual(analysis.summarize([3.0, 1.0, 2.0]), {"n": 3, "p50": 2.0})
        s = analysis.summarize([float(i) for i in range(100)])
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["p50"], 49.5)
        self.assertAlmostEqual(s["p90"], 89.1)
        self.assertNotIn("p99", s)

    def test_quantile_interpolates(self):
        self.assertEqual(analysis.quantile([10, 20], 0.5), 15)
        self.assertEqual(analysis.quantile([5], 0.9), 5)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_ignores_empty(self):
        self.assertEqual(analysis.union_length([]), 0)
        self.assertEqual(analysis.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(analysis.union_length([(0, 10), (10, 12)]), 12)
        self.assertEqual(analysis.union_length([(3, 3), (4, 2)]), 0)
        self.assertEqual(analysis.union_length([(0, 100), (10, 20), (30, 40)]), 100)

    def test_self_time_subtracts_covered_children(self):
        nodes = {"op": (0, 100), "job1": (10, 40), "job2": (30, 60),
                 "fs": (50, 55), "stray": (90, 130)}
        parent = {"job1": "op", "job2": "op", "fs": "job2", "stray": "op",
                  "gone": "op"}
        st = analysis.self_times(nodes, parent)
        # op: 100 - union(10..60, 90..100) = 100 - 60
        self.assertEqual(st["op"], 40)
        self.assertEqual(st["job1"], 30)
        self.assertEqual(st["job2"], 25)
        self.assertEqual(st["fs"], 5)
        self.assertEqual(st["stray"], 40)


class AttributionTest(unittest.TestCase):
    def test_call_sites_map_to_modules(self):
        cases = {
            "graft.sources.OrcSink$.write(OrcSink.scala:23)": "etl.copy",
            "graft.etl.IncrementalBackup.writePruned(IncrementalBackup.scala:390)": "etl.copy",
            "graft.etl.IncrementalBackup.discover(IncrementalBackup.scala:123)": "etl.discover",
            "graft.etl.IncrementalBackup.discoverPruned(IncrementalBackup.scala:341)":
                "etl.discover",
            "graft.etl.IncrementalBackup.sampleSource(IncrementalBackup.scala:574)": "manifest",
            "graft.sources.ManifestLog.$anonfun$current$2(ManifestLog.scala:174)": "manifest",
            "graft.sources.StatsStore$.collectExprDiff(StatsStore.scala:120)": "manifest",
            "graft.etl.StatusStore.load$1(StatusStore.scala:116)": "status",
            "perfbench.Lifecycle.$anonfun$rows$2(Lifecycle.scala:200)": "readback",
            "perfbench.Lifecycle.perMonth(Lifecycle.scala:150)": "bench",
            "graft.Tables$.load(Tables.scala:23)": "other",
            "": "other",
        }
        for site, module in cases.items():
            self.assertEqual(analysis.site_module(site), module, site)

    def test_adaptive_jobs_take_their_execution_site(self):
        jobs = [{"id": 1, "site": "", "execution": 7},
                {"id": 2, "site": "", "execution": 8},
                {"id": 3, "site": "graft.sources.OrcSink$.write(OrcSink.scala:23)",
                 "execution": 9}]
        execs = {7: "graft.sources.ManifestLog.checkpoint(ManifestLog.scala:407)"}
        self.assertEqual(analysis.job_modules(jobs, execs),
                         {1: "manifest", 2: "other", 3: "etl.copy"})

    def test_paths_map_to_stores(self):
        w = "/x/.bench_work/steady-1-9"
        cases = {
            w + "/setup-2/lake/_ingest_log/wave-3": "journal",
            w + "/root-1/locks/orders.lock": "lock",
            w + "/root-1/data/orders.drain.lock": "lock",
            w + "/root-1/data/orders_manifest/delta-4/part-0.parquet": "manifest",
            w + "/root-1/status/orders/_CURRENT": "status",
            w + "/root-1/data/lineitem/pid=199501/part-0.orc": "dest",
            w + "/setup-2/lake/m199501-part-00000.parquet": "source",
            w + "/setup-2/in/lineitem.parquet": "source",
            w + "/spark-local/blockmgr": "other",
        }
        for path, area in cases.items():
            self.assertEqual(analysis.path_area(path), area, path)


def op(i, kind, phase, start_ms, end_ms, **info):
    return dict(id=i, kind=kind, phase=phase, start=int(start_ms * 1e6),
                end=int(end_ms * 1e6), ok=True, units=1, **info)


class MetricsTest(unittest.TestCase):
    def record(self):
        return {
            "workload": "steady", "setup_s": [3.0, 1.0, 2.0], "attempted": 10,
            "failed": 1, "rss_mb": 1500.0, "stored_bytes": 900, "source_bytes": 1000,
            "dest_files": 12, "dest_partitions": 6,
            "ops": [
                op(1, "backfill", "backfill", 0, 2000, partitions=5),
                op(2, "land", "steady", 2000, 2010),
                op(3, "drain", "steady", 2010, 3010, full_listings=0,
                   ckpt_rows_read=0, delta_rows_read=2),
                op(4, "drain", "steady", 3010, 6010, full_listings=1,
                   ckpt_rows_read=8, delta_rows_read=0),
                op(5, "query.point", "warmup", 6010, 7010),
                op(6, "query.point", "readback", 7010, 7110),
                op(7, "query.point", "readback", 7110, 7230),
                op(8, "query.point", "untraced", 7230, 7330),
            ]}

    def test_end_to_end(self):
        m = analysis.end_to_end(self.record())
        self.assertEqual(set(m), set(analysis.END_TO_END))
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["backfill_partitions_per_s"], 2.5)
        self.assertEqual(m["drain_p50_ms"], 2000.0)
        self.assertEqual(m["drain_mean_ms"], 2000.0)
        self.assertEqual(m["point_p50_ms"], 110.0)
        self.assertEqual(m["stored_bytes_ratio"], 0.9)
        self.assertEqual(m["success_rate"], 0.9)

    def test_per_layer_attributes_jobs_and_fs_calls_to_focus_ops(self):
        ns = 1e6
        spans = [{"id": 1, "parent": 0, "op": 3, "name": "drain",
                  "start": int(2010 * ns), "end": int(3010 * ns)},
                 {"id": 2, "parent": 1, "op": 3, "name": "etl.runPrunedIncremental",
                  "start": int(2020 * ns), "end": int(3000 * ns)},
                 {"id": 3, "parent": 0, "op": 6, "name": "query.point",
                  "start": int(7010 * ns), "end": int(7110 * ns)},
                 {"id": 4, "parent": 3, "op": 6, "name": "readback.exec",
                  "start": int(7020 * ns), "end": int(7100 * ns)}]
        job = dict(tasks=4, task_ms=100, in_bytes=10, out_bytes=20, shuffle_bytes=0,
                   execution=-1)
        jobs = [dict(job, id=0, parent=2, op=3, stages=[0],
                     site="graft.sources.OrcSink$.write(OrcSink.scala:23)",
                     start=int(2100 * ns), end=int(2500 * ns)),
                dict(job, id=1, parent=2, op=3, stages=[1],
                     site="graft.sources.ManifestLog.commitDelta(ManifestLog.scala:382)",
                     start=int(2600 * ns), end=int(2700 * ns)),
                dict(job, id=2, parent=4, op=6, stages=[2],
                     site="perfbench.Lifecycle.$anonfun$rows$2(Lifecycle.scala:1)",
                     start=int(7030 * ns), end=int(7090 * ns))]
        root = "/w/root-1"
        fs = [dict(kind="create", path=root + "/data/orders/pid=199505/part-0.orc",
                   start=int(2200 * ns), end=int(2210 * ns), parent=0, op=3, stage=0),
              dict(kind="rename", path=root + "/status/orders/_CURRENT",
                   start=int(2800 * ns), end=int(2820 * ns), parent=2, op=3, stage=-1)]
        m, shares = analysis.per_layer(self.record(), (spans, jobs, fs, {}))
        self.assertEqual(set(m), set(analysis.PER_LAYER))
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["etl.copy_jobs"], 1)
        self.assertEqual(m["manifest.jobs"], 1)
        self.assertEqual(m["other.jobs"], 0)
        self.assertEqual(m["etl.jobs_per_partition"], 0.5)
        self.assertEqual(m["fs.creates"], 1)
        self.assertEqual(m["dest.fs_ops"], 1)
        self.assertEqual(m["status.fs_ops"], 1)
        self.assertAlmostEqual(m["status.fs_ms"], 20.0)
        self.assertEqual(m["manifest.full_listings"], 1)
        self.assertEqual(m["manifest.ckpt_rows_read"], 8)
        self.assertEqual(m["manifest.delta_rows_read"], 2)
        self.assertEqual(m["dest.files_per_partition"], 2.0)
        self.assertAlmostEqual(m["spark.driver_gap_ms"], 1010 + 3000 - 500)
        self.assertEqual(m["readback.jobs"], 1)
        self.assertEqual(m["readback.input_bytes"], 10)
        self.assertAlmostEqual(m["readback.exec_ms"], 80.0)
        # the op's self time is what neither jobs nor fs calls cover
        self.assertAlmostEqual(m["self.spark_ms"], 400 - 10 + 100)
        self.assertAlmostEqual(m["self.fs_ms"], 30.0)
        self.assertAlmostEqual(m["trace.overhead_pct"], 10.0)
        d = shares["drain"]
        self.assertEqual(d["ops"], 2)
        self.assertAlmostEqual(d["spark"], 500 / 4000)
        self.assertAlmostEqual(d["fs"], 20 / 4000)


if __name__ == "__main__":
    unittest.main()
