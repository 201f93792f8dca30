"""Self-tests of the benchmark:  python3 -m unittest discover perfbench/tests"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)
sys.path.insert(0, PKG)

import metrics  # noqa: E402
import run  # noqa: E402


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class SiteTest(unittest.TestCase):
    def test_callsite_to_file(self):
        self.assertEqual(metrics.classify_site("count at Checkpoints.scala:57"), "Checkpoints")
        self.assertEqual(metrics.classify_site("collect at Harness.scala:39"), "Harness")
        self.assertEqual(metrics.classify_site(
            "sql at SourceParity.scala:1088"), "SourceParity")

    def test_unknown_sites_are_other(self):
        self.assertEqual(metrics.classify_site("run at ThreadPoolExecutor.java:1136"), "other")
        self.assertEqual(metrics.classify_site(
            "$anonfun$commit$3 at GraftTsvWrite.scala:1012"), "other")
        self.assertEqual(metrics.classify_site(""), "other")
        self.assertEqual(metrics.classify_site(None), "other")

    def test_micro_batches_are_stream(self):
        self.assertEqual(metrics.classify_site("\nid = 4c\nrunId = 8e\nbatch = 0"), "stream")

    def test_jobs_are_counted_per_site(self):
        result, trace = synthetic_run()
        m = metrics.layer_pass(result["passes"][1], trace, cores=4)
        self.assertEqual(m["site.Checkpoints.jobs"], 2)
        self.assertEqual(m["site.Harness.jobs"], 1)
        self.assertEqual(m["site.other.jobs"], 1)
        self.assertAlmostEqual(m["site.Checkpoints.s"], 0.3)
        self.assertEqual(sum(m[f"site.{s}.jobs"] for s in metrics.SITES), m["sched.jobs"])


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(metrics.union_ms([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(metrics.union_ms([(10, 20), (12, 14)], 0, 100), 10)
        self.assertEqual(metrics.union_ms([], 0, 100), 0)

    def test_self_time(self):
        span = {"start": 100.0, "end": 200.0}
        kids = [{"start": 110.0, "end": 150.0}, {"start": 140.0, "end": 160.0},
                {"start": 190.0, "end": 230.0}]
        self.assertAlmostEqual(metrics.self_ms(span, kids), 100 - 50 - 10)
        self.assertAlmostEqual(metrics.self_ms(span, []), 100)

    def test_build_final_and_driver_self(self):
        result, trace = synthetic_run()
        m = metrics.layer_pass(result["passes"][1], trace, cores=4)
        self.assertEqual(m["queries.build_jobs"], 3)
        self.assertEqual(m["queries.final_jobs"], 1)
        self.assertAlmostEqual(m["queries.build_s"], 0.6)
        self.assertAlmostEqual(m["queries.final_s"], 0.3)
        # query span 1000 ms; its jobs cover 300 + 200 + 100 (overlapping 100) ms
        self.assertAlmostEqual(m["driver.self_s"], 0.5)
        self.assertAlmostEqual(m["sched.tasks_per_stage"], 2.0)

    def test_plan_records_of_the_pass_only(self):
        result, trace = synthetic_run()
        m = metrics.layer_pass(result["passes"][1], trace, cores=4)
        self.assertEqual(m["plan.executions"], 3)
        self.assertEqual(m["plan.planning_ms"], 9.0)
        self.assertEqual(m["sources.write_plans"], 3)
        self.assertAlmostEqual(m["sources.tsv.emit_ratio"], 0.4)

    def test_overhead_is_traced_over_untraced(self):
        result, trace = synthetic_run()
        m = metrics.per_layer(result, trace)
        self.assertAlmostEqual(m["trace.overhead"], 1.0 / 0.8)


def synthetic_run():
    """One untraced and one traced pass of one query; job times in ms."""
    q = {"name": "q_x", "ok": True, "hash": "1", "error": "", "driver_gc_s": 0.0}
    passes = [dict(id=0, traced=False, queries=[dict(q, build_s=0.5, final_s=0.3)],
                   shuffle_write_bytes=0, written_bytes=0, jobs=4),
              dict(id=1, traced=True, queries=[dict(q, build_s=0.6, final_s=0.4)],
                   shuffle_write_bytes=0, written_bytes=0, jobs=4)]
    spans = [dict(id=1, parent=-1, kind="pass", name="pass1", start=0.0, end=1000.0),
             dict(id=2, parent=1, kind="query", name="q_x", start=0.0, end=1000.0),
             dict(id=3, parent=2, kind="build", name="q_x", start=0.0, end=600.0),
             dict(id=4, parent=2, kind="final", name="q_x", start=600.0, end=900.0)]

    def job(i, parent, start, end, site):
        return {"id": i, "pass": 1, "parent": parent, "start": start, "end": end,
                "callsite": f"x at {site}.scala:1", "stages": 1, "tasks": 2,
                "task_ms": 10.0, "run_ms": 8.0}

    jobs = [job(0, 3, 0.0, 200.0, "Checkpoints"), job(1, 3, 100.0, 200.0, "Checkpoints"),
            job(2, 3, 300.0, 400.0, "ThreadPoolExecutor"), job(3, 4, 600.0, 800.0, "Harness")]
    def plan(pass_id, writes, lines, emitted):
        return {"pass": pass_id, "analysis_ms": 1.0, "optimization_ms": 2.0,
                "planning_ms": 3.0, "lines_read": lines, "rows_emitted": emitted,
                "writes": writes}

    plans = [plan(0, 5, 0, 0), plan(1, 1, 100, 40), plan(1, 0, 0, 0), plan(1, 2, 0, 0)]
    trace = {"spans": spans, "jobs": jobs, "plans": plans, "batches": []}
    return {"passes": passes, "cores": 4, "setup_s": [1.0]}, trace


class HashChainTest(unittest.TestCase):
    def test_a_changed_hash_is_reported_once(self):
        def p(**hashes):
            return {"queries": [{"name": n, "ok": True, "hash": h} for n, h in hashes.items()]}
        warm = [{"a": "1", "b": "2", "c": ""}, {"a": "1", "b": "2", "c": ""}]
        passes = [p(a="1", b="2", c="5"), p(a="1", b="3", c="5"), p(a="1", b="3", c="6")]
        self.assertEqual(run.unstable_hashes(warm, passes), ["b", "c"])
        self.assertEqual(run.unstable_hashes(warm, passes[:1]), [])

    def test_the_dumped_result_heads_the_chain(self):
        warm = [{"a": "7"}, {"a": "1"}]
        passes = [{"queries": [{"name": "a", "ok": True, "hash": "1"}]}]
        self.assertEqual(run.unstable_hashes(warm, passes), ["a"])

    def test_failed_executions_are_not_compared(self):
        passes = [{"queries": [{"name": "a", "ok": False, "hash": ""}]},
                  {"queries": [{"name": "a", "ok": True, "hash": "9"}]}]
        self.assertEqual(run.unstable_hashes([{"a": "9"}], passes), [])


class DeclaredMetricsTest(unittest.TestCase):
    def test_every_printed_metric_is_declared_with_a_unit(self):
        _, bench = run.load_spec()
        result, trace = synthetic_run()
        for p in result["passes"]:
            p["traced"] = False
        result["peak_heap_bytes"] = 1
        e2e = metrics.end_to_end(result, result["passes"])
        self.assertEqual(set(e2e), {m["name"] for m in bench["end_to_end"]})
        result, trace = synthetic_run()
        layer = metrics.per_layer(result, trace)
        layer.update(metrics.workload_io(result["passes"], set(), set()))
        self.assertEqual(set(layer), {m["name"] for m in bench["per_layer"]})
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertTrue(m["unit"])


@unittest.skipUnless(os.path.isdir(run.gen.SOURCE_DIR), "needs the sf0.1 source tables")
class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def tables(self, seed):
        out = os.path.join(self.tmp, str(seed) + "_" + str(len(os.listdir(self.tmp))))
        run.gen.generate(out, seed, {t: 0.05 for t in run.gen.SAMPLED})
        return out

    def test_same_seed_is_byte_identical(self):
        a, b = self.tables(7), self.tables(7)
        for t in run.gen.TABLES:
            self.assertEqual(digest(f"{a}/{t}.parquet"), digest(f"{b}/{t}.parquet"), t)

    def test_other_seed_gives_other_rows_and_keys_resolve(self):
        import duckdb
        a, b = self.tables(7), self.tables(8)
        con = duckdb.connect()
        for t in ["orders", "lineitem", "events", "documents", "embeddings"]:
            self.assertNotEqual(digest(f"{a}/{t}.parquet"), digest(f"{b}/{t}.parquet"), t)
        for t in run.gen.DIMENSIONS:
            self.assertEqual(digest(f"{a}/{t}.parquet"), digest(f"{b}/{t}.parquet"), t)
        orphans = con.sql(f"""
            SELECT count(*) FROM '{a}/lineitem.parquet' l
            LEFT JOIN '{a}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
            LEFT JOIN '{a}/part.parquet' p ON l.l_partkey = p.p_partkey
            LEFT JOIN '{a}/supplier.parquet' s ON l.l_suppkey = s.s_suppkey
            WHERE o.o_orderkey IS NULL OR p.p_partkey IS NULL OR s.s_suppkey IS NULL
            """).fetchone()[0]
        self.assertEqual(orphans, 0)
        missing_lines = con.sql(f"""
            SELECT count(*) FROM '{run.gen.SOURCE_DIR}/lineitem.parquet' l
            JOIN '{a}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
            """).fetchone()[0] - con.sql(
            f"SELECT count(*) FROM '{a}/lineitem.parquet'").fetchone()[0]
        self.assertEqual(missing_lines, 0)
        cust = con.sql(f"""
            SELECT count(*) FROM '{a}/orders.parquet' o
            LEFT JOIN '{a}/customer.parquet' c ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL""").fetchone()[0]
        self.assertEqual(cust, 0)

    def test_schema_and_single_row_group_kept(self):
        import pyarrow.parquet as pq
        a = self.tables(3)
        for t in run.gen.TABLES:
            src = pq.ParquetFile(f"{run.gen.SOURCE_DIR}/{t}.parquet")
            got = pq.ParquetFile(f"{a}/{t}.parquet")
            self.assertEqual(got.schema_arrow, src.schema_arrow, t)
            self.assertEqual(got.metadata.num_row_groups, 1, t)


if __name__ == "__main__":
    unittest.main()
