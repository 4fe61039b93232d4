"""The benchmark's own tests: seeded inputs repeat, and the output checks
catch a corrupted copy, a wrong status and a wrong query result.

    python3 -m unittest perfbench/test_perfbench.py
"""
import copy
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Tmp(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, self.tmp)

    def gen(self, seed, name):
        root = os.path.join(self.tmp, name)
        m = gen.generate(seed, root)
        m["root"] = root
        return m


class SeededInputs(Tmp):
    def test_same_seed_same_inputs_and_expectations(self):
        a = self.gen(7, "a")
        b = self.gen(7, "b")
        self.assertEqual(tree_digest(a["root"]), tree_digest(b["root"]))
        a.pop("root"), b.pop("root")
        self.assertEqual(a, b)

    def test_other_seed_other_inputs(self):
        a = self.gen(7, "a")
        b = self.gen(8, "b")
        self.assertNotEqual(tree_digest(a["root"]), tree_digest(b["root"]))

    def test_churn_plants_one_failure_in_five(self):
        kinds = set()
        for seed in range(12):
            m = self.gen(seed, f"c{seed}")
            keys = [o["version"] for o in m["sequence"] if o["op"] == "import"]
            self.assertEqual(len(keys), gen.VERSIONS)
            bad = [m["versions"][k]["failure"] for k in keys
                   if m["versions"][k]["failure"]]
            self.assertEqual(len(bad), 1)
            kinds.update(bad)
        self.assertEqual(kinds, set(gen.FAILURES))

    def test_every_seed_writes_the_same_sizes(self):
        def sizes(m):
            return sorted(os.path.getsize(os.path.join(d, f))
                          for d, _, fs in os.walk(os.path.join(m["root"], "staging"))
                          for f in fs if f.endswith(".bin"))
        self.assertEqual(sizes(self.gen(1, "s1")), sizes(self.gen(2, "s2")))

def imported(manifest, key, storage):
    """The copy the importer should leave: hrefs rewritten to basenames,
    assets byte-identical."""
    v = manifest["versions"][key]
    src = os.path.dirname(os.path.join(manifest["root"], v["assets"][0]["path"]))
    os.makedirs(storage)
    for name in v["metadata"]:
        with open(os.path.join(src, name)) as f:
            doc = json.load(f)
        for a in doc.get("assets", {}).values():
            a["href"] = os.path.basename(a["href"])
        for ln in doc.get("links", []):
            ln["href"] = os.path.basename(ln["href"])
        with open(os.path.join(storage, name), "w") as f:
            json.dump(doc, f)
    for a in v["assets"]:
        shutil.copy(os.path.join(manifest["root"], a["path"]),
                    os.path.join(storage, a["name"]))


class ImportChecks(Tmp):
    def setUp(self):
        super().setUp()
        self.m = self.gen(5, "in")
        self.keys = [o["version"] for o in self.m["sequence"]
                     if o["op"] == "import"]
        ops = []
        for k in self.keys:
            storage = os.path.join(self.tmp, "storage", k)
            if self.m["versions"][k]["failure"] is None:
                imported(self.m, k, storage)
            ops.append({"op": "import", "version": k, "ok": True, "s": 1.0,
                        "storage": storage})
            ops.append({"op": "status", "version": k, "ok": True, "s": 1.0,
                        "report": copy.deepcopy(
                            self.m["versions"][k]["expected"])})
        self.result = {"passes": [{"traced": False, "wall_s": 1.0,
                                   "ops": ops}]}
        ok = [k for k in self.keys if self.m["versions"][k]["failure"] is None]
        self.passed = os.path.join(self.tmp, "storage", ok[0])
        self.passed_key = ok[0]
        self.failing = [i for i, k in enumerate(self.keys)
                        if self.m["versions"][k]["failure"]][0]

    def failed(self):
        return run.check_imports(self.result, self.m)[0]

    def test_faithful_outputs_pass(self):
        self.assertEqual(self.failed(), 0)

    def test_corrupted_copy_fails(self):
        a = self.m["versions"][self.passed_key]["assets"][0]["name"]
        with open(os.path.join(self.passed, a), "r+b") as f:
            b = f.read(1)
            f.seek(0)
            f.write(bytes([b[0] ^ 1]))
        self.assertEqual(self.failed(), 1)

    def test_href_not_rewritten_fails(self):
        p = os.path.join(self.passed, "catalog.json")
        with open(p) as f:
            doc = json.load(f)
        doc["links"][0]["href"] = "s3://staging/x/collection.json"
        with open(p, "w") as f:
            json.dump(doc, f)
        self.assertEqual(self.failed(), 1)

    def test_wrong_status_fails(self):
        ops = self.result["passes"][0]["ops"]
        ops[1]["report"]["assetUpload"]["status"] = "Failed"
        self.assertEqual(self.failed(), 1)

    def test_wrong_error_url_fails(self):
        ops = self.result["passes"][0]["ops"]
        err = ops[2 * self.failing + 1]["report"]["validation"]["errors"][0]
        err["url"] = err["url"].replace("item", "collection")
        self.assertEqual(self.failed(), 1)

    def test_failed_operation_counts(self):
        self.result["passes"][0]["ops"][0]["ok"] = False
        self.assertEqual(self.failed(), 1)


class QueryChecks(Tmp):
    def result_dir(self, sql):
        import duckdb
        out = os.path.join(self.tmp, "results")
        os.makedirs(os.path.join(out, "qx"), exist_ok=True)
        duckdb.sql(f"COPY ({sql}) TO '{out}/qx/part-0.parquet' (FORMAT PARQUET)")
        return out

    def check(self, got_sql):
        result = {"oracle_sql": {"qx": "SELECT r_regionkey AS k, r_name AS n "
                                       "FROM region ORDER BY ALL NULLS FIRST"},
                  "passes": [{"traced": False, "wall_s": 1.0, "ops": [
                      {"op": "query", "name": "qx", "ok": True, "s": 1.0}]}]}
        with mock.patch.object(run, "QUERIES", ["qx"]):
            return run.check_queries(result, self.result_dir(got_sql))[0]

    def test_matching_result_passes(self):
        self.assertEqual(self.check(
            f"SELECT r_name AS n, r_regionkey AS k FROM "
            f"'{run.DATA}/region.parquet'"), 0)

    def test_wrong_result_fails(self):
        self.assertEqual(self.check(
            f"SELECT r_name AS n, r_regionkey + 1 AS k FROM "
            f"'{run.DATA}/region.parquet'"), 1)


class Contract(unittest.TestCase):
    def test_benchmark_json_names_every_printed_metric(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
