"""The benchmark's own tests: a tiny-scale smoke run of each workload that
checks every named metric is emitted with its unit, and proof that the
checker catches a corrupted final state.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Each tiny run still starts a JVM, so the suite takes a few minutes."""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import run  # noqa: E402
import stage  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
SEED = 7


def bench(workload, trace, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(SEED), "--seconds", "1",
                        "--trace", str(trace), "--scale", "tiny"],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


class SmokeTest(unittest.TestCase):
    def run_ok(self, workload, trace):
        rc, lines, err = bench(workload, trace)
        self.assertEqual(rc, 0, err[-3000:])
        r = json.loads(lines[-1])
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], lines)
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        return r

    def test_end_to_end_metrics_with_units(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                r = self.run_ok(w, 0)
                self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()},
                                 dict(run.END_TO_END))
                for k, v in r["metrics"].items():
                    self.assertGreater(v["value"], 0, k)

    def test_per_layer_metrics_and_spans(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                r = self.run_ok(w, 1)
                self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()},
                                 dict(run.PER_LAYER))
                spans = os.path.join(WORK, "runs", f"{w}-tiny-trace1", "spans.jsonl")
                names = {s["name"] for s in check.read_jsonl(spans)}
                self.assertTrue({"run", "cycle", "batch", "lookup", "scan",
                                 "compact_full"} <= names, names)

    def test_benchmark_json_matches_runner(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.PER_LAYER)

    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory(dir=WORK) as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            rc, lines, _ = bench("trickle_mor", 0, cwd=d)
        self.assertNotEqual(rc, 0)
        self.assertFalse(any(l.startswith("{") for l in lines), lines)


class CheckerTest(unittest.TestCase):
    """A corrupted final state, lookup or scan must be caught."""

    @classmethod
    def setUpClass(cls):
        rc, _, err = bench("trickle_mor", 0)
        assert rc == 0, err[-3000:]
        cls.stage = stage.stage_dir(WORK, "trickle_mor", SEED, run.SIZES["tiny"]["trickle_mor"])
        cls.out = os.path.join(WORK, "runs", "trickle_mor-tiny-trace0")

    def corrupt(self, final_sql=None, lookups=None, scans=None):
        d = tempfile.mkdtemp(dir=WORK)
        self.addCleanup(shutil.rmtree, d)
        shutil.copytree(self.out, d, dirs_exist_ok=True)
        if final_sql:
            import duckdb
            src = os.path.join(self.out, "final_state", "*.parquet")
            shutil.rmtree(os.path.join(d, "final_state"))
            os.makedirs(os.path.join(d, "final_state"))
            duckdb.connect().execute(
                f"COPY ({final_sql.format(src=f'read_parquet({src!r})')}) "
                f"TO '{d}/final_state/part-0.parquet' (FORMAT parquet)")
        for name, edit in (("lookups.jsonl", lookups), ("scans.jsonl", scans)):
            if edit:
                rows = check.read_jsonl(os.path.join(d, name))
                edit(rows)
                with open(os.path.join(d, name), "w") as f:
                    f.write("".join(json.dumps(r) + "\n" for r in rows))
        return check.check("trickle_mor", self.stage, d)

    def test_clean_run_passes(self):
        self.assertEqual(check.check("trickle_mor", self.stage, self.out)["failed"], 0)

    def test_changed_row_is_caught(self):
        r = self.corrupt(final_sql="SELECT doc_id, tokens, CASE WHEN doc_id = "
                                   "(SELECT min(doc_id) FROM {src}) THEN n_tok + 1 "
                                   "ELSE n_tok END AS n_tok, source FROM {src}")
        self.assertEqual(r["failed"], 1, r)
        self.assertIn("final state", r["problems"][0])

    def test_lost_row_is_caught(self):
        r = self.corrupt(final_sql="SELECT * FROM {src} WHERE doc_id <> "
                                   "(SELECT max(doc_id) FROM {src})")
        self.assertEqual(r["failed"], 1, r)

    def test_extra_row_is_caught(self):
        r = self.corrupt(final_sql="SELECT * FROM {src} UNION ALL "
                                   "SELECT 'never-inserted', [1, 2], 2, 'web'")
        self.assertEqual(r["failed"], 1, r)

    def test_wrong_lookup_and_scan_are_caught(self):
        def drop_rows(rows):
            hit = next(r for r in rows if r["rows"])
            hit["rows"] = []

        def off_by_one(rows):
            rows[0]["rows"] += 1

        r = self.corrupt(lookups=drop_rows, scans=off_by_one)
        self.assertEqual(r["failed"], 2, r)


if __name__ == "__main__":
    unittest.main()
