"""Self-tests of the benchmark: the generator, the output checks, and the
metric lists. Run from the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

The check tests build the benchmark (as run.py does) and run
perfbench.SelfTest in one JVM per seed, a few minutes in all.
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench", "selftest")


def tree_digest(path):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=WORK)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write(self, kind, seed, name):
        out = os.path.join(self.tmp, name)
        getattr(gen, kind)(seed, out)
        return tree_digest(out)

    def test_same_seed_same_bytes(self):
        for kind in ("nyc", "corpus"):
            self.assertEqual(self.write(kind, 7, "a"), self.write(kind, 7, "b"))
            shutil.rmtree(os.path.join(self.tmp, "a"))
            shutil.rmtree(os.path.join(self.tmp, "b"))

    def test_other_seed_other_bytes(self):
        for kind in ("nyc", "corpus"):
            self.assertNotEqual(self.write(kind, 7, f"{kind}7"), self.write(kind, 8, f"{kind}8"))

    def test_tlc_traits(self):
        want = gen.nyc(9, os.path.join(self.tmp, "nyc"))
        green = lambda m: pq.read_table(os.path.join(self.tmp, "nyc", "green", f"{m}.parquet"))
        jan, feb = green("2023-01").schema, green("2023-02").schema
        self.assertEqual(str(jan.field("VendorID").type), "int64")
        self.assertEqual(str(feb.field("VendorID").type), "int32")
        self.assertEqual(str(jan.field("RatecodeID").type), "double")
        self.assertEqual(str(feb.field("RatecodeID").type), "int64")
        self.assertEqual(str(jan.field("ehail_fee").type), "null")
        self.assertLess(want["silver_trips"], want["rows_in"])  # duplicates, null timestamps
        self.assertLess(want["fact_nyc"], want["silver_trips"])  # outside 2023
        self.assertGreater(want["dims"]["dim_vendor"], 2)  # vendor outside the seeded dim
        self.assertGreater(want["dims"]["dim_payment"], 6)
        self.assertGreater(want["dims"]["dim_rate"], 6)
        vendors = set(green("2023-03").column("VendorID").to_pylist())
        self.assertIn(0, vendors)  # the sentinel key


class MetricListTest(unittest.TestCase):
    def test_benchmark_json_matches_run_py(self):
        path = os.path.join(ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to perfbench/")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         [(n, u) for n, u in run.END_TO_END])
        self.assertEqual([m["name"] for m in bench["per_layer"]], run.PER_LAYER)
        self.assertEqual([m["unit"] for m in bench["per_layer"]],
                         [run.unit_of(m) for m in run.PER_LAYER])
        for w in bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class ChecksTest(unittest.TestCase):
    """Outputs of a real backfill and real dedup queries pass the checks;
    each planted corruption makes its check fail."""

    @classmethod
    def setUpClass(cls):
        cache = os.path.join(ROOT, ".bench_build", "perfbench")
        os.makedirs(cache, exist_ok=True)
        cls.classpath = run.build(ROOT, cache, time.time() + 900)

    def self_test(self, seed, corrupt):
        base = os.path.join(WORK, f"seed{seed}")
        shutil.rmtree(base, ignore_errors=True)
        data = os.path.join(base, "data")
        gen.nyc(seed, os.path.join(data, "nyc"))
        gen.corpus(seed, os.path.join(data, "corpus"))
        out = os.path.join(base, "checks.json")
        cmd = (["java", "-Xmx2g"]
               + [a for p in run.JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", self.classpath, "perfbench.SelfTest", "--data", data,
                  "--work", os.path.join(base, "work"), "--out", out,
                  "--corrupt", "1" if corrupt else "0"])
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=900)
        with open(out) as f:
            res = json.load(f)
        shutil.rmtree(base)
        return {s: {c["name"]: c for c in checks} for s, checks in res.items()}

    def assertClean(self, checks):
        for name, c in checks.items():
            if "dim_vendor" in name:
                continue  # the known dim_vendor type defect, asserted below
            self.assertTrue(c["ok"], f"{name}: {c['detail']}")

    def test_seed_with_corruptions(self):
        res = self.self_test(21, corrupt=True)
        self.assertClean(res["nyc_clean"])
        self.assertClean(res["corpus_clean"])
        # upsertDims appends novel VendorIDs as bigint to the int dim_vendor
        self.assertTrue(res["nyc_clean"]["schema.dim_vendor"]["error"])
        dropped = res["nyc_mart_row_dropped"]
        self.assertFalse(dropped["mart.report_monthly"]["ok"])
        self.assertFalse(dropped["mart.report_monthly"]["error"])
        self.assertTrue(dropped["mart.report_weekly"]["ok"])
        retyped = res["nyc_dim_key_type"]
        self.assertTrue(retyped["schema.dim_type"]["error"])
        self.assertFalse(retyped["dim.dim_type"]["ok"])
        missing = res["corpus_missing"]
        self.assertIn("planted excerpts missing", missing["query.q208_containment_corpus"]["detail"])
        self.assertIn("uncontained documents dropped", missing["query.q209_excerpt_scrub"]["detail"])
        self.assertIn("without a near neighbour dropped", missing["query.q58_semantic_dedup"]["detail"])
        extra = res["corpus_extra"]
        self.assertIn("contained documents kept", extra["query.q209_excerpt_scrub"]["detail"])
        self.assertIn("below the Jaccard threshold", extra["query.q20_minhash_pairs"]["detail"])
        self.assertIn("not 4/5-contained", extra["query.q207_containment"]["detail"])

    def test_second_seed_passes(self):
        res = self.self_test(22, corrupt=False)
        self.assertClean(res["nyc_clean"])
        self.assertClean(res["corpus_clean"])


if __name__ == "__main__":
    unittest.main()
