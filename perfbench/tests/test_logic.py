"""Tests for the benchmark's own logic: digests and the oracle compare,
span self-time and the metric ratios, and the word-count decomposition.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import oracle  # noqa: E402


class DigestTest(unittest.TestCase):

    def test_row_and_column_order_do_not_matter(self):
        a = oracle.digest(["b", "a"], [(2, "x"), (1, "y")], {"a": "O", "b": "i"})
        b = oracle.digest(["a", "b"], [("y", 1), ("x", 2)], {"a": "O", "b": "i"})
        self.assertEqual(a, b)

    def test_value_and_dtype_kind_matter(self):
        k = {"n": "i"}
        self.assertNotEqual(oracle.digest(["n"], [(5,)], k),
                            oracle.digest(["n"], [(5.0,)], k))
        self.assertNotEqual(oracle.digest(["n"], [(5,)], k),
                            oracle.digest(["n"], [(5,)], {"n": "f"}))

    def test_float_repr_exact_and_nan(self):
        k = {"x": "f"}
        self.assertNotEqual(oracle.digest(["x"], [(0.1 + 0.2,)], k),
                            oracle.digest(["x"], [(0.3,)], k))
        self.assertEqual(oracle.digest(["x"], [(float("nan"),)], k),
                         oracle.digest(["x"], [(float("nan"),)], k))

    def test_nulls_sort_with_values(self):
        k = {"x": "f"}
        d, n = oracle.digest(["x"], [(None,), (3,), (1,)], k)
        self.assertEqual(n, 3)
        self.assertEqual(d, oracle.digest(["x"], [(1,), (None,), (3,)], k)[0])


class OracleCompareTest(unittest.TestCase):
    """Job outputs are parquet directories; the oracle is DuckDB SQL."""

    def setUp(self):
        import duckdb
        self.tmp = tempfile.TemporaryDirectory()
        self.con = duckdb.connect()
        self.cache = os.path.join(self.tmp.name, "digests.json")

    def tearDown(self):
        self.tmp.cleanup()

    def output(self, sql):
        out = os.path.join(self.tmp.name, "job")
        os.makedirs(out, exist_ok=True)
        self.con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")
        return oracle.output_digest(self.con, out)

    def want(self, sql):
        return tuple(oracle.oracle_digests(self.con, {"q": sql}, self.cache)["q"])

    def test_output_matches_oracle_sql(self):
        got = self.output("SELECT range AS k, range * 0.5 AS v FROM range(5)")
        self.assertEqual(got, self.want(
            "SELECT range * 0.5 AS v, range AS k FROM range(5) ORDER BY k DESC"))
        self.assertNotEqual(got, self.want(
            "SELECT range AS k, range * 0.25 AS v FROM range(5)"))
        self.assertTrue(os.path.exists(self.cache))

    def test_hugeint_read_back_as_float_mismatches(self):
        # equal Python ints from fetchall, but pandas reads HUGEINT as
        # float64: the oracle gate's dtype-kind check fails this pair
        got = self.output("SELECT range AS n FROM range(3)")
        self.assertNotEqual(got, self.want(
            "SELECT CAST(range AS HUGEINT) AS n FROM range(3)"))

    def test_array_columns_fail(self):
        with self.assertRaises(Exception):
            self.output("SELECT [range, 1] AS a FROM range(3)")
        want = self.want("SELECT [range, 1] AS a FROM range(3)")
        self.assertTrue(want[0].startswith("error:"))


class SpanMathTest(unittest.TestCase):

    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_clips_children_to_parent(self):
        # parent 10..20; children cover 8..12 (clipped to 10..12) and
        # 15..17 and 16..25 (clipped, merged to 15..20)
        self.assertEqual(metrics.self_time(10, 20, [(8, 12), (15, 17), (16, 25)]), 3)
        self.assertEqual(metrics.self_time(0, 5, []), 5)
        self.assertEqual(metrics.self_time(0, 5, [(6, 9)]), 5)

    def test_chain_split_adds_up_to_the_job(self):
        m = {"scan": 0.5, "tokenize": 2.0, "count": 3.25, "sort": 3.5, "csv": 4.0}
        split = metrics.chain_split(m)
        self.assertEqual(split["wc.scan_s"], 0.5)
        self.assertEqual(split["tok.tokenize_s"], 1.5)
        self.assertEqual(split["wc.aggregate_s"], 1.25)
        self.assertEqual(split["wc.sort_s"], 0.25)
        self.assertEqual(split["wc.sink_s"], 0.5)
        self.assertAlmostEqual(sum(split.values()), m["csv"])

    def test_per_job_median_sum(self):
        runs = [{"job": "a", "seconds": s} for s in (1, 9, 2)] + \
               [{"job": "b", "seconds": s} for s in (4, 6)]
        self.assertEqual(metrics.per_job_median_sum(runs), 2 + 5)


def _run(job, start, construct_end, end, **kw):
    r = {"pass": 1, "phase": "traced", "kind": "job", "job": job,
         "start_ms": start, "construct_end_ms": construct_end, "end_ms": end,
         "seconds": (end - start) / 1e3, "construct_s": (construct_end - start) / 1e3,
         "action_s": (end - construct_end) / 1e3, "retained_rdds": 0,
         "retained_bytes": 0}
    r.update(kw)
    return r


class LinkTest(unittest.TestCase):

    def setUp(self):
        self.runs = [_run("a", 1000, 1400, 2000, retained_rdds=1,
                          retained_bytes=2e6),
                     _run("b", 3000, 3100, 4000)]
        ops = {"HashAggregateExec": {"aggTime": 250.0, "peakMemory": 3e6},
               "ShuffleExchangeExec:hashpartitioning":
                   {"shuffleBytesWritten": 1e6, "localBytesRead": 5e5},
               "FileSourceScanExec": {"filesSize": 4e6, "scanTime": 100.0}}
        self.trace = {
            "sql": [{"id": 1, "start_ms": 1100, "end_ms": 1300},
                    {"id": 2, "start_ms": 1500, "end_ms": 1990},
                    {"id": 3, "start_ms": 3200, "end_ms": 3900}],
            "qe": [{"arrival_ms": 1302, "duration_ms": 200.0,
                    "phases_ms": {"analysis": 10, "planning": 5}, "ops": {}},
                   {"arrival_ms": 1995, "duration_ms": 490.0,
                    "phases_ms": {"analysis": 20, "optimization": 7},
                    "ops": ops}],
            "jobs": [{"id": 0, "start_ms": 1110, "sql": 1, "stages": [0]},
                     {"id": 1, "start_ms": 1600, "sql": 2, "stages": [1, 2]},
                     {"id": 2, "start_ms": 3300, "sql": None, "stages": [3]}],
            "stages": [{"id": s, "tasks": 4, "run_ms": 1000, "cpu_ns": 5e8,
                        "gc_ms": 10, "cached_rdds": [7] if s in (1, 2) else []}
                       for s in range(4)],
            "storage": [(1150, 7, 1e6), (1200, 7, 3e6), (1600, -1, 0),
                        (3500, 9, 5e5)],
        }

    def test_events_are_attached_to_their_runs(self):
        a, b = metrics.link(self.runs, self.trace)
        self.assertEqual([s["phase"] for s in a["sql"]], ["construct", "action"])
        self.assertEqual([q["phase"] for q in a["qe"]], ["construct", "action"])
        self.assertEqual([j["phase"] for j in a["jobs"]], ["construct", "action"])
        self.assertEqual(len(a["stages"]), 3)
        self.assertEqual([j["phase"] for j in b["jobs"]], ["action"])

    def test_run_layers(self):
        a, b = metrics.link(self.runs, self.trace)
        la = metrics.run_layers(a)
        self.assertAlmostEqual(la["queries.construct_self_s"], 0.2)
        self.assertEqual(la["queries.construct_jobs"], 1)
        self.assertEqual(la["queries.sql_execs"], 2)
        self.assertAlmostEqual(la["catalyst.analysis_s"], 0.03)
        self.assertEqual(la["mat.persisted"], 1)
        self.assertEqual(la["mat.scans"], 2)
        self.assertAlmostEqual(la["mat.cached_mb"], 3.0)
        self.assertAlmostEqual(la["exec.task_run_s"], 3.0)
        self.assertAlmostEqual(la["exec.agg_s"], 0.25)
        self.assertAlmostEqual(la["exec.shuffle_read_mb"], 0.5)
        p = metrics.pass_layers([a, b])
        self.assertEqual(p["exec.stages"], 4)
        self.assertAlmostEqual(p["mat.cached_mb"], 3.0)  # peak, not sum
        self.assertAlmostEqual(p["mat.retained_mb"], 2.0)

    def test_per_layer_ratios_and_overhead(self):
        timed = [dict(r, phase="timed") for r in self.runs]
        for r in timed:
            r["seconds"] *= 0.9
        res = {"runs": self.runs + timed, "trace": self.trace, "cores": 4,
               "floor": {"bytes": 50e6, "seconds": 2.0}, "setup_s": [5.0, 0.1, 0.2]}
        out = metrics.per_layer(res, {"host.load_1m": 0.5, "host.steal_pct": 0.0})
        self.assertAlmostEqual(out["mat.reads_per_build"], 2 / 2)
        self.assertAlmostEqual(out["exec.core_util"], 4.0 / (2.0 * 4))
        self.assertAlmostEqual(out["trace.wall_s"], 2.0)
        self.assertAlmostEqual(out["trace.overhead_s"], 2.0 - 1.8)
        self.assertAlmostEqual(out["host.floor_mb_s"], 25.0)
        self.assertEqual(out["setup.first_s"], 5.0)
        self.assertEqual(out["tok.tokens"], 0.0)  # not applicable here


if __name__ == "__main__":
    unittest.main()
