"""Self-tests of the benchmark harness (no JVM needed).

    python3 perfbench/selftest.py

Covers the percentile rule, failure counting, generator determinism, the
metric names the harness can print, and the refusal to run outside a
checkout.
"""
import filecmp
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BENCH = stats.load_benchmark(ROOT)
SCRATCH = os.path.join(ROOT, ".perfbench_work")


def scratch_dir():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=SCRATCH)


def op(kind="q", wall=1.0, ok=True, items=1, window=0, digest="d"):
    return {"kind": kind, "wall_s": wall, "ok": ok, "items": items, "window": window,
            "digest": digest}


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(39), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_samples_beyond_is_at_least_ten(self):
        for n in range(1, 3000, 7):
            p = stats.tail_percentile(n)
            if p is not None:
                self.assertGreaterEqual(n - stats.rank(p, n), 10, (n, p))
                higher = [c for c in stats.TAIL_CANDIDATES if c > p]
                for c in higher:
                    self.assertLess(n - stats.rank(c, n), 10, (n, c))


class FailureCounting(unittest.TestCase):
    def test_counts(self):
        ops = [op(ok=True), op(ok=False), op(ok=None)]
        self.assertEqual(stats.counts(ops), (3, 2))

    def test_end_to_end_uses_untraced_window(self):
        rec = {"ops": [op(wall=1, ok=True), op(wall=3, ok=False), op(wall=100, window=1)],
               "setup_s": [2.0, 1.0, 3.0], "warmup_s": 0.5, "peak_rss_mb": 10.0}
        e = stats.end_to_end(rec)
        self.assertEqual(e["op_s_p50"], 2)
        self.assertEqual(e["ok_frac"], 0.5)
        self.assertEqual(e["setup_s"], 2.5)
        self.assertEqual(e["work_per_s"], 0.5)

    def test_apply_marks_wrong_results(self):
        rec = {"ops": [op("q1", digest="x"), op("q1", digest="y"), op("q2", digest="z"),
                       op("q3", digest="w"), op("q4", ok=False)]}
        for o in rec["ops"]:
            if o["kind"] != "q4":
                o["ok"] = None
        check.apply(rec, {"q1": None, "q2": "row 3 differs"}, {"q1": "x", "q2": "z", "q3": "w"})
        self.assertEqual([o["ok"] for o in rec["ops"]], [True, False, False, False, False])


class Generators(unittest.TestCase):
    def digest_tree(self, d):
        h = hashlib.sha256()
        for p in sorted(glob.glob(os.path.join(d, "**"), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, d).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
        return h.hexdigest()

    def test_same_seed_same_bytes(self):
        for w in ("ingest_sync", "analyst_mix"):
            with scratch_dir() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                gen.generate(w, 8, c)
                self.assertEqual(self.digest_tree(a), self.digest_tree(b), w)
                self.assertNotEqual(self.digest_tree(a), self.digest_tree(c), w)
                cmp = filecmp.dircmp(a, b)
                self.assertFalse(cmp.diff_files, w)

    def test_workloads_match(self):
        names = {w["name"] for w in BENCH["workloads"]}
        self.assertEqual(names, set(gen.GENERATORS))
        self.assertEqual(names, set(stats.load_spec()["workloads"]))

    def test_catalog_rounds_are_balanced(self):
        with scratch_dir() as t:
            gen.generate("ingest_sync", 3, t)
            cat = json.load(open(os.path.join(t, "catalog.json")))
        for phase in (0, 1):
            changed = [d["version"] for d in cat["datasets"] if d["phase"] == phase]
            self.assertEqual(sorted(changed), ["v3", "v3", "v3", "v4"])


class MetricNames(unittest.TestCase):
    def declared(self, kind):
        return [m["name"] for m in BENCH[kind]]

    def test_result_line_prints_exactly_the_declared_metrics(self):
        line = stats.result_line(BENCH, "per_layer", {"odata.get_calls": 3.0}, True, 4, 0)
        self.assertEqual(list(line["metrics"]), self.declared("per_layer"))
        self.assertEqual(line["metrics"]["odata.get_calls"], {"value": 3.0, "unit": "count"})
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        with self.assertRaises(KeyError):
            stats.result_line(BENCH, "end_to_end", {"not_declared": 1.0}, True, 1, 0)

    def test_end_to_end_names(self):
        rec = {"ops": [op()], "setup_s": [1.0], "warmup_s": 0.0, "peak_rss_mb": 1.0}
        self.assertEqual(set(stats.end_to_end(rec)), set(self.declared("end_to_end")))

    def test_harness_layer_names_are_declared(self):
        """Every layer metric the JVM side emits as `"name" -> value` is
        declared, and every declared one is emitted somewhere."""
        emitted = set()
        for p in glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True):
            src = open(p).read()
            emitted |= set(re.findall(r'"((?:odata|sources|sql|ops|stream|jvm|trace)\.[a-z_0-9]+)"\s*->',
                                      src))
        trace_file_only = {"trace.spans", "stream.batches_per_replay"}
        counters = {n for n in emitted if n.endswith(("_ns", "_ms", "_n"))}  # raw counters
        self.assertEqual(emitted - trace_file_only - counters, set(self.declared("per_layer")))

    def test_benchmark_json_shape(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in BENCH[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for m in BENCH["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in BENCH["end_to_end"]))
        for w in BENCH["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)


class Refusal(unittest.TestCase):
    def test_fails_without_engine_sources(self):
        with scratch_dir() as t:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), t)
            shutil.copytree(HERE, os.path.join(t, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest_sync",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=t, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


class IngestCheck(unittest.TestCase):
    def test_same_rows_is_order_insensitive_and_exact(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with scratch_dir() as t:
            path = os.path.join(t, "x.parquet")
            os.makedirs(path)
            pq.write_table(pa.table({"ID": pa.array([2, 1], pa.int32()), "v": [None, 1.5]}),
                           os.path.join(path, "part-0.parquet"))
            self.assertIsNone(check.same_rows([{"ID": 1, "v": 1.5}, {"ID": 2, "v": None}], path))
            self.assertIsNotNone(check.same_rows([{"ID": 1, "v": 1.5}, {"ID": 2, "v": 0.0}], path))
            self.assertIsNotNone(check.same_rows([{"ID": 1, "v": 1.5}], path))


if __name__ == "__main__":
    unittest.main()
