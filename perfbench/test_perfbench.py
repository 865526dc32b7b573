"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py      (from the checkout root)

The fixture and smoke tests build the program on first use (see run.py)
and take a few minutes; the file checks take none.
"""
import json
import re
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_bench(*args, timeout=600):
    out = subprocess.run([sys.executable, str(BENCH / "run.py"), *args], cwd=ROOT,
                         capture_output=True, text=True, timeout=timeout)
    if out.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return out.stdout.strip().splitlines()


def jvm(*args, timeout=300):
    """Run perfbench.Main directly on the built classpath."""
    sys.path.insert(0, str(BENCH))
    import run
    cp = run.build()
    opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    out = subprocess.run(["java", "-Xmx1g", *opens, "-cp", cp, "perfbench.Main",
                          "--root", str(ROOT), *args],
                         cwd=ROOT, capture_output=True, text=True, timeout=timeout)
    if out.returncode != 0:
        raise AssertionError(out.stderr[-3000:])
    return out.stdout.strip().splitlines()[-1]


class SpecFiles(unittest.TestCase):
    def test_metric_names_and_units(self):
        s = spec()
        names = [w["name"] for w in s["workloads"]]
        names += [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in s["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_every_layer_metric_names_what_it_moves(self):
        s = spec()
        layers = json.loads((BENCH / "layers.json").read_text())
        e2e = {m["name"] for m in s["end_to_end"]}
        workloads = {w["name"] for w in s["workloads"]}
        self.assertEqual([m["name"] for m in s["per_layer"]], list(layers))
        for m in s["per_layer"]:
            entry = layers[m["name"]]
            self.assertEqual(entry["better"], m["better"], m["name"])
            if not entry["moves"]:
                # only metrics about the trace itself may move nothing
                self.assertTrue(m["name"].startswith("trace.") and entry.get("calibration"))
            for mv in entry["moves"]:
                self.assertIn(mv["metric"], e2e, m["name"])
                self.assertIn(mv["workload"], workloads, m["name"])


class Fixtures(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in ("etl_rosbag", "container_rw"):
            a = jvm("--fixture-digest", w, "--seed", "7", "--scale", "smoke")
            b = jvm("--fixture-digest", w, "--seed", "7", "--scale", "smoke")
            c = jvm("--fixture-digest", w, "--seed", "8", "--scale", "smoke")
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)


class Smoke(unittest.TestCase):
    def test_all_workloads_tiny_scale(self):
        s = spec()
        for w in s["workloads"]:
            for trace, metrics in (("0", s["end_to_end"]), ("1", s["per_layer"])):
                lines = run_bench("--workload", w["name"], "--seed", "3", "--seconds", "1",
                                  "--trace", trace, "--scale", "smoke")
                result = json.loads(lines[-1])
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(result["correct"], (w["name"], trace))
                self.assertEqual(result["failed"], 0)
                self.assertGreaterEqual(result["attempted"], 1)
                got = result["metrics"]
                self.assertEqual(list(got), [m["name"] for m in metrics])
                for m in metrics:
                    self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
                if trace == "0":
                    for m in metrics:
                        self.assertGreater(got[m["name"]]["value"], 0, m["name"])


if __name__ == "__main__":
    unittest.main()
