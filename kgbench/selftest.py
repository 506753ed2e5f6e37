#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the program).

    python3 kgbench/selftest.py            # all, about three minutes
    python3 kgbench/selftest.py -k seed    # only the Spark-free ones

* the same seed gives the same input digest, another seed another one;
* span self times add up to the root's duration (synthetic spans);
* an injected fault (one annotation row dropped before the check) is
  counted as a failed operation;
* every ``kg`` operation starts from a fresh root and leaves identical
  snapshot, manifest and file counts after each stage;
* on both workloads, a traced run's per-layer self times plus the
  uncovered remainder add up to its operations' wall time.
"""

from __future__ import annotations

import os
import shutil
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from kgbench import host  # noqa: E402

WORK = os.path.join(ROOT, ".kgbench", f"selftest-{os.getpid()}")
DIRS = host.prepare_env(WORK, ROOT)


def setUpModule():
    os.makedirs(WORK, exist_ok=True)


def tearDownModule():
    shutil.rmtree(WORK, ignore_errors=True)


class Args:
    def __init__(self, workload, seed, seconds, trace):
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace


class SeedTest(unittest.TestCase):

    def test_seed_determinism(self):
        from kgbench import workloads as W
        a1, a2 = W.annotate_corpus(5, 2), W.annotate_corpus(5, 2)
        self.assertEqual(a1.digest(), a2.digest())
        self.assertNotEqual(a1.digest(), W.annotate_corpus(6, 2).digest())
        k1, k2 = W.kg_corpus(5, 40), W.kg_corpus(5, 40)
        self.assertEqual(k1.digest(), k2.digest())
        self.assertNotEqual(k1.digest(), W.kg_corpus(6, 40).digest())

    def test_seed_self_time_identity(self):
        from kgbench.trace import Tracer
        tr = Tracer(True, "t")
        with tr.span("root", "bench") as root:
            with tr.span("a", "pipeline") as a:
                pass
            with tr.span("b", "iceberg"):
                pass
        a["start"], a["end"] = root["start"] + 1, root["start"] + 3
        root["end"] = root["start"] + 10
        b = tr.spans[2]
        b["start"], b["end"] = root["start"] + 3, root["start"] + 5
        # an execution reaching past its parent is clipped to [2.5, 3]
        tr.add("x", "triples", root["start"] + 2.5, root["start"] + 4, a["id"])
        self.assertAlmostEqual(tr.self_time(root), 6.0)
        self.assertAlmostEqual(tr.self_time(a), 1.5)
        total = sum(tr.layer_self_times([root["id"]]).values())
        self.assertAlmostEqual(total, 10.0)


class SparkRunTest(unittest.TestCase):
    """End-to-end runs at reduced size, one JVM each."""

    def _run(self, args, scale, fault=None):
        from kgbench import run
        work = os.path.join(WORK, f"{args.workload}-{args.trace}")
        return run.run(args, work, DIRS, scale=scale, fault=fault)

    def test_fault_and_trace_sums(self):
        class DropOneOnce:
            calls = 0

            def __call__(self, df):
                self.calls += 1
                if self.calls > 1:
                    return df
                return df.exceptAll(df.limit(1))

        result, report = self._run(Args("annotate", 3, 1.0, 1), 0.05,
                                   DropOneOnce())
        ops = report["ops"]
        self.assertGreaterEqual(len(ops), 3)
        self.assertEqual(ops[0]["bad"], ["annotations"])
        self.assertTrue(all(not o["bad"] for o in ops[1:]))
        self.assertEqual(result["failed"], 1)
        self.assertFalse(result["correct"])
        self.assertAlmostEqual(report["fail_ratio"], 1 / len(ops))
        m = report["per_layer"]
        parts = sum(m[f"self.{x}_s"] for x in ("pipeline", "meta", "triples",
                                                "iceberg"))
        self.assertAlmostEqual(parts + m["trace.uncovered_s"],
                               m["trace.op_wall_s"], places=6)
        self.assertLess(m["trace.sum_error_s"], 1e-6)
        self.assertGreater(m["pipeline.python_total_s"], 0)
        self.assertGreater(m["meta.python_total_s"], 0)

    def test_kg_fresh_and_identical_state(self):
        # traced, so at least three operations
        result, report = self._run(Args("kg", 4, 1.0, 1), 0.05)
        ops = report["ops"]
        self.assertGreaterEqual(len(ops), 3)
        self.assertEqual(result["failed"], 0)
        self.assertTrue(all(o["fresh_root"] for o in ops))
        # counts only: the lineage table records timings, so its bytes vary
        def counts(o):
            return {stage: {k: v for k, v in st.items() if k != "bytes"}
                    for stage, st in o["tables"].items()}

        first = counts(ops[0])
        for o in ops:
            self.assertEqual(counts(o), first)
        first = ops[0]["tables"]
        # one snapshot per table per stage: three sink tables, two triples
        self.assertEqual(first["build"]["snapshots"], 5)
        self.assertEqual(first["resume"]["snapshots"], 10)
        m = report["per_layer"]
        self.assertLess(m["trace.sum_error_s"], 1e-6)
        self.assertGreater(m["triples.cooccurrence_s"], 0)
        self.assertGreater(m["iceberg.append.annotations_s"], 0)


if __name__ == "__main__":
    unittest.main()
