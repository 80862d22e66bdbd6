"""Tests of the benchmark itself.

Run from the repository root:
  python3 -m unittest perfbench/test_perfbench.py          # everything
  python3 -m unittest perfbench.test_perfbench.GeneratorTest  # seconds
MetricsTest builds the harness if needed and runs every workload once
untraced and once traced, a few minutes in all.
"""
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import unittest

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "test")


def digest(out_dir):
    """sha256 over every generated file, names and bytes."""
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(out_dir)):
        for name in sorted(names):
            if name.endswith(".parquet"):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, out_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()

# Layers each workload must measure itself; every other per-layer metric of
# a workload is reported as 0 because the workload does not use that layer.
USED = {
    "classify": ["queries.", "scheduler.", "sources.", "operators.", "ml.", "graph.",
                 "caching.", "trace."],
    "logs_stream": ["scheduler.", "streaming.", "trace."],
}


class GeneratorTest(unittest.TestCase):

    def generate(self, workload, seed, name):
        out = os.path.join(SCRATCH, name, workload)
        shutil.rmtree(out, ignore_errors=True)
        return gen.generate(workload, seed, 10, out), digest(out)

    def test_same_seed_gives_same_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                m1, d1 = self.generate(w, 7, "a")
                m2, d2 = self.generate(w, 7, "b")
                self.assertEqual(d1, d2)
                self.assertEqual(m1, m2)

    def test_other_seed_gives_other_bytes(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                self.assertNotEqual(self.generate(w, 7, "a")[1], self.generate(w, 8, "b")[1])

    def test_manifest_records_one_row_group_per_file(self):
        manifest, _ = self.generate("classify", 3, "a")
        for table in manifest["tables"].values():
            self.assertEqual(table["row_groups"], 1)
            self.assertGreater(table["rows"], 0)
        manifest, _ = self.generate("logs_stream", 3, "a")
        events = manifest["tables"]["events"]
        plan = events["plan"]
        self.assertEqual(events["files"],
                         plan["warmup_files"] + plan["drains"] * plan["files_per_drain"])
        self.assertEqual(events["rows"], events["files"] * plan["file_events"])

    def test_shapes_follow_sf01(self):
        self.generate("classify", 5, "a")
        out = os.path.join(SCRATCH, "a", "classify")
        docs = pq.read_table(os.path.join(out, "documents.parquet")).to_pydict()
        lens = [len(t.split(" ")) for t in docs["text"]]
        self.assertEqual(len(lens), gen.CLASSIFY_DOCS)
        self.assertEqual((min(lens), max(lens)), (10, 100))
        terms = {w for t in docs["text"] for w in t.split(" ")}
        self.assertEqual(terms, set(gen.BASE_TERMS) | {gen.RARE_TERM})
        self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])
        self.assertAlmostEqual(docs["lang"].count("en") / len(lens), 0.412, delta=0.03)
        emb = pq.read_table(os.path.join(out, "embeddings.parquet")).to_pydict()
        norms = np.linalg.norm(np.array(emb["embedding"]), axis=1)
        self.assertTrue(np.allclose(norms, 1.0, atol=1e-5))
        self.assertEqual(set(emb["label"]), set(range(gen.EMB_LABELS)))
        self.generate("logs_stream", 5, "a")
        ev = pq.read_table(os.path.join(SCRATCH, "a", "logs_stream", "replay")).to_pandas()
        span_h = (ev.ts.max() - ev.ts.min()).total_seconds() / 3600
        self.assertAlmostEqual(len(ev) / span_h, gen.STREAM_EVENTS_PER_H,
                               delta=0.05 * gen.STREAM_EVENTS_PER_H)
        self.assertLess(ev.user_id.max(), gen.STREAM_USERS)


class MetricsTest(unittest.TestCase):

    def test_every_metric_is_reported_with_its_unit(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(gen.WORKLOADS))
        for w in gen.WORKLOADS:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    p = subprocess.run(
                        [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                         "--seed", "1", "--seconds", "2", "--trace", str(trace)],
                        cwd=ROOT, capture_output=True, text=True, timeout=900)
                    self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                    lines = p.stdout.strip().splitlines()
                    info, last = json.loads(lines[-2]), json.loads(lines[-1])
                    self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(last["correct"], info["gate"])
                    self.assertEqual(last["failed"], 0)
                    self.assertGreaterEqual(last["attempted"], 1)
                    self.assertEqual(set(last["metrics"]), {m["name"] for m in spec[kind]})
                    for m in spec[kind]:
                        got = last["metrics"][m["name"]]
                        self.assertEqual(got["unit"], m["unit"], m["name"])
                        self.assertTrue(math.isfinite(got["value"]), m["name"])
                        if kind == "end_to_end":
                            self.assertGreater(got["value"], 0, m["name"])
                    self.assertIn("tables", info["inputs"])
                    if trace:
                        unused = set(info["layers_not_used"])
                        for m in spec[kind]:
                            if any(m["name"].startswith(u) for u in USED[w]):
                                self.assertNotIn(m["name"], unused)
                        with open(os.path.join(HERE, ".work", w, "trace.json")) as f:
                            self.assertTrue(json.load(f)["spans"])


if __name__ == "__main__":
    unittest.main()
