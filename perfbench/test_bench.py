#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_bench.py            # all
    python3 perfbench/test_bench.py -k inputs  # a subset

- the same seed gives byte-identical inputs (parquet files: identical
  rows); another seed gives other inputs with the same sizes and planted
  shares;
- every output check fails once the result is made wrong
  (graftbench.SelfTest);
- every metric named in BENCHMARK.json is emitted with its unit, on
  every listed workload, traced and untraced.

The last test runs the benchmark itself, so the whole file takes a few
minutes.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))
import run  # noqa: E402

WORKLOADS = ("vcf_load", "variant_annotate")
SCRATCH = run.BUILD / "test"


def gen(workload, seed, name):
    SCRATCH.mkdir(parents=True, exist_ok=True)
    d = SCRATCH / name
    shutil.rmtree(d, ignore_errors=True)
    run.java("graftbench.Gen", [workload, str(seed), str(d)], SCRATCH / f"{name}.log", timeout=120)
    return d


def manifest(d):
    return dict(l.split("\t", 1) for l in (d / "manifest.tsv").read_text().splitlines())


def tsv(d, rel):
    return [l.split("\t") for l in (d / rel).read_text().splitlines() if l]


def shape(workload, d):
    """What must not change with the seed: sizes and planted shares."""
    if workload == "vcf_load":
        rows = tsv(d, "truth/batches.tsv")
        lines = [int(r[1]) for r in rows]
        cells = []
        for p in sorted((d / "batches").glob("*.vcf")):
            for l in p.read_text().splitlines():
                if not l.startswith("#"):
                    cells += [c.split(":")[0] for c in l.split("\t")[9:]]
        share = {g: round(cells.count(g) / len(cells), 2) for g in ("0/0", "./.")}
        return {"batches": len(rows), "lines": lines, "cells": len(cells), "share": share}
    chrs = tsv(d, "truth/chromosomes.tsv")
    fa = (d / "genome.fa").stat().st_size
    return {"chromosomes": [(r[0], r[1]) for r in chrs], "fasta_bytes": fa,
            "sampled_chrs": sorted({r[0] for r in tsv(d, "truth/aa_sample.tsv")})}


class Inputs(unittest.TestCase):
    def test_inputs_deterministic_per_seed(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = gen(w, 11, f"{w}-a"), gen(w, 11, f"{w}-b"), gen(w, 12, f"{w}-c")
                files = sorted(str(p.relative_to(a)) for p in a.rglob("*") if p.is_file())
                self.assertEqual(files, sorted(str(p.relative_to(b)) for p in b.rglob("*") if p.is_file()))
                # parquet rows enter the manifest hash; their footers vary
                for f in files:
                    if not f.endswith(".parquet"):
                        self.assertEqual((a / f).read_bytes(), (b / f).read_bytes(), f)
                self.assertNotEqual(manifest(a)["sha256"], manifest(c)["sha256"])
                self.assertEqual(manifest(a)["files"], manifest(c)["files"])
                self.assertEqual(shape(w, a), shape(w, c))


class Checks(unittest.TestCase):
    def test_checks_catch_corrupted_results(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                d = gen(w, 5, f"{w}-selftest")
                out = run.java("graftbench.SelfTest", [w, str(d)],
                               SCRATCH / f"{w}-selftest.run.log", timeout=600)
                print(out, end="")
                lines = out.splitlines()
                self.assertGreaterEqual(len(lines), 2)
                self.assertTrue(all(l.startswith("ok") for l in lines), out)


class Metrics(unittest.TestCase):
    def test_every_metric_emitted_with_its_unit(self):
        bench = json.loads(Path("BENCHMARK.json").read_text())
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in bench[key]}
            for w in bench["workloads"]:
                with self.subTest(workload=w["name"], trace=trace):
                    out = subprocess.run(bench["command"] + [
                        "--workload", w["name"], "--seed", "3", "--seconds", "4",
                        "--trace", str(trace)], capture_output=True, text=True, timeout=300)
                    self.assertEqual(out.returncode, 0, out.stderr[-2000:])
                    res = json.loads(out.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertGreaterEqual(res["attempted"], 1)
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, want)
                    for k, v in res["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)


if __name__ == "__main__":
    run.build(run.source_hash())
    unittest.main()
