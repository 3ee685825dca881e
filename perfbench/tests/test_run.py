"""Self-tests of the benchmark's bookkeeping; no JVM is started.

    python3 -m unittest discover -s perfbench/tests -v
"""
import contextlib
import io
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path
from unittest import mock

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import run  # noqa: E402

SETUP = "1\t20.0\t5000\t30\t2000\t10.0\t60\t900\n2\t4.0\t0.2\t1\t800\t3.0\t40\t0\n" \
        "3\t4.2\t0.2\t1\t810\t3.1\t40\t0\n"


def fake_engine_output(out, requests, checked):
    """Write what Runner writes, for `requests` rows of
    (name, status, wall_ms, digest_or_error) and a {name: digest} map of
    oracle-checked first results."""
    out.mkdir(parents=True, exist_ok=True)
    (out / "env.tsv").write_text("nproc\t4\ncores\t4\ndefault_parallelism\t4\n"
                                 "conf:spark.master\tlocal[4]\n")
    (out / "setup.tsv").write_text(SETUP)
    (out / "checked.tsv").write_text("".join(
        f"{n}\tok\t{d}\t3\t\n" for n, d in checked.items()))
    rows, t = [], 1000.0
    for i, (name, status, wall, detail) in enumerate(requests):
        rows.append(f"{i}\t0\t{name}\trun\t0\t{status}\t{wall}\t{t}\t{t + wall}"
                    f"\t0\t1\t2\t3\t{detail}\n")
        t += wall
    (out / "requests.tsv").write_text("".join(rows))
    (out / "spans.tsv").write_text("")
    (out / "jobs.tsv").write_text("")
    total = sum(r[2] for r in requests)
    (out / "window.tsv").write_text(
        f"settle_s\t1.5\nuntraced_ms\t{total}\nuntraced_n\t{len(requests)}\n"
        "traced_ms\t0\ntraced_n\t0\npeak_heap_mb\t100.5\nheap_samples\t3\n")
    (out / "oracle_sql.json").write_text(json.dumps({n: "SELECT 1" for n in checked}))


def run_main(requests, checked, oracle_bad=None):
    """Run run.main over a faked engine; return (exit code, stdout lines)."""
    with tempfile.TemporaryDirectory() as d:
        out = Path(d) / "out"
        fake_engine_output(out, requests, checked)
        buf = io.StringIO()
        with mock.patch.object(run.build, "build", return_value=[]), \
                mock.patch.object(run, "run_engine", return_value=out), \
                mock.patch.object(run, "oracle_check", return_value=oracle_bad or {}), \
                contextlib.redirect_stdout(buf):
            code = run.main(["--workload", "dashboard", "--seed", "1",
                             "--seconds", "1", "--trace", "0"])
    return code, buf.getvalue().splitlines()


class CrashIsAFailure(unittest.TestCase):
    def test_crash_is_listed_and_never_a_sample(self):
        reqs = [("q_a", "ok", 100.0, "d1")] * 120 + [("q_a", "err", 1.0, "boom")]
        code, lines = run_main(reqs, {"q_a": "d1"})
        result = json.loads(lines[-1])
        self.assertEqual(code, 0)
        self.assertEqual(result["attempted"], 121)
        self.assertEqual(result["failed"], 1)
        # a 1 ms crash would pull the median down if it were a sample
        self.assertEqual(result["metrics"]["request_p50_ms"]["value"], 100.0)
        self.assertTrue(any("FAILED q_a: crashed: boom" in ln for ln in lines))

    def test_crashed_first_run_leaves_its_results_unchecked(self):
        reqs = [("q_a", "ok", 100.0, "d1")] * 110 + [("q_b", "ok", 5.0, "d2")] * 3
        code, lines = run_main(reqs, {"q_a": "d1"})
        result = json.loads(lines[-1])
        self.assertEqual((code, result["correct"], result["failed"]), (0, True, 3))
        self.assertTrue(any("FAILED q_b: unchecked" in ln for ln in lines))

    def test_judge_keeps_crashes_out_of_samples(self):
        rows = [dict(name="q", status="err", detail="x", wall_ms=1.0),
                dict(name="q", status="ok", detail="d", wall_ms=5.0)]
        samples, failures, wrong = run.judge(rows, {"q": "d"}, {})
        self.assertEqual([r["wall_ms"] for r in samples], [5.0])
        self.assertEqual(failures, [("q", "crashed: x")])
        self.assertEqual(wrong, 0)


class WrongResultExitsNonZero(unittest.TestCase):
    def test_digest_mismatch(self):
        reqs = [("q_a", "ok", 10.0, "d1")] * 110 + [("q_a", "ok", 10.0, "other")]
        code, lines = run_main(reqs, {"q_a": "d1"})
        result = json.loads(lines[-1])
        self.assertEqual(code, 1)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)

    def test_oracle_mismatch(self):
        reqs = [("q_a", "ok", 10.0, "d1")] * 110
        code, lines = run_main(reqs, {"q_a": "d1"}, {"q_a": "rows differ"})
        self.assertEqual(code, 1)
        self.assertFalse(json.loads(lines[-1])["correct"])


class PercentileNeedsTenBeyond(unittest.TestCase):
    def test_percentile(self):
        self.assertIsNone(run.percentile(list(range(99)), 0.9))
        self.assertEqual(run.percentile(list(range(1, 101)), 0.9), 90)

    def test_p90_left_out_of_metrics(self):
        window = dict(untraced_ms=1000.0, peak_heap_mb=1.0, heap_samples=1)
        setups = [dict(total_s=1.0)]
        few = [dict(wall_ms=float(i)) for i in range(99)]
        self.assertNotIn("request_p90_ms", run.metrics(few, window, setups))
        enough = few + [dict(wall_ms=99.0)]
        self.assertIn("request_p90_ms", run.metrics(enough, window, setups))


class SeedGivesOneRequestList(unittest.TestCase):
    def test_same_seed_same_list(self):
        for w in run.CONFIG["workloads"]:
            self.assertEqual(run.make_requests(w, 7, 50), run.make_requests(w, 7, 50))
            self.assertNotEqual(run.make_requests(w, 7, 50), run.make_requests(w, 8, 50))

    def test_independent_of_hash_seed(self):
        code = ("import sys; sys.path.insert(0, %r); import run; "
                "print(run.make_requests('compile', 3, 20))" % str(HERE.parent))
        lists = {subprocess.run([sys.executable, "-c", code], text=True,
                                capture_output=True, check=True,
                                env={**os.environ, "PYTHONHASHSEED": s}).stdout
                 for s in ("1", "2")}
        self.assertEqual(len(lists), 1)

    def test_compile_repeats_follow_their_shape(self):
        reqs = run.make_requests("compile", 5, 30)
        for prev, cur in zip(reqs, reqs[1:]):
            if cur[2] == "warm":
                self.assertEqual(prev[1:], (cur[1], "cold"))


class BenchmarkJsonMatchesRunner(unittest.TestCase):
    def test_metric_lists(self):
        spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.per_layer_names())
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(run.CONFIG["workloads"]))


if __name__ == "__main__":
    unittest.main()
