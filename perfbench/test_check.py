"""Tests of the independent checkers: each accepts an output built from the
generator's planted facts and rejects a deliberately corrupted copy.

    python3 perfbench/test_check.py
"""
import csv
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen    # noqa: E402

SEED = 11


def write_tsv(path, rows, cols):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, delimiter="\t", lineterminator="\n")
        w.writerow(cols)
        for r in rows:
            w.writerow([r.get(c, "") for c in cols])


class CdsCheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.inputs = os.path.join(cls.tmp, "in")
        cls.expect = gen.generate("cds_etl", SEED, cls.inputs)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def publish(self, mutate=None):
        """A correct published batch built from the planted facts;
        `mutate(tables)` corrupts it before it is written."""
        facts = self.expect["batches"][-1]
        name = facts["name"]
        tables = {node: [dict({check.ID_OF[node]: i}, **v) for i, v in rows.items()]
                  for node, rows in facts["expected"].items()}
        tables["ssn_file"] = [{"file_name": n, "ssn_matches": "x"}
                              for n in facts["ssn_file_names"]]
        for node, ids in facts["conflicts"].items():
            tables[f"id_validation_{node}"] = [{check.ID_OF[node]: i} for i in ids]
        if mutate:
            mutate(tables)
        out = os.path.join(self.tmp, "bucket", "transformed", name, "t0")
        raw = os.path.join(self.tmp, "bucket", "raw", name, "t0")
        shutil.rmtree(os.path.join(self.tmp, "bucket"), ignore_errors=True)
        os.makedirs(out)
        os.makedirs(raw)
        for node, rows in tables.items():
            cols = sorted({c for r in rows for c in r}) or [check.ID_OF.get(node, "x")]
            write_tsv(os.path.join(out, f"{name}-{node}.tsv"), rows, cols)
        src = os.path.join(self.inputs, "data", name, f"{name}.xlsx")
        shutil.copy(src, os.path.join(raw, f"{name}.xlsx"))
        result = {"batches": [{"name": name, "transformed": "file:" + out}]}
        return check.check("cds_etl", self.expect, result, self.inputs)[0]

    def test_correct_output_passes(self):
        self.assertEqual(self.publish(), [])

    def test_conflicting_id_kept_fails(self):
        cid = self.expect["batches"][-1]["conflicts"]["sample"][0]
        self.assertTrue(self.publish(lambda t: t["sample"].append(
            dict(t["sample"][0], sample_id=cid))))

    def test_cascaded_descendant_kept_fails(self):
        pid = self.expect["batches"][-1]["null_parent_files"][0]
        self.assertTrue(self.publish(lambda t: t["file"].append(
            dict(t["file"][0], file_id=pid))))

    def test_orphan_foreign_key_fails(self):
        def orphan(t):
            t["file"][0]["sample.sample_id"] = "S-missing"
        self.assertTrue(self.publish(orphan))

    def test_duplicate_id_fails(self):
        self.assertTrue(self.publish(lambda t: t["participant"].append(t["participant"][0])))

    def test_unmapped_clean_dict_variant_fails(self):
        def dirty(t):
            t["file"][0]["file_type"] = "fastq.gz"
        self.assertTrue(self.publish(dirty))

    def test_float_rendered_integer_fails(self):
        def floaty(t):
            t["sample"][0]["sample_age_at_collection"] += ".0"
        self.assertTrue(self.publish(floaty))

    def test_ssn_report_missing_a_name_fails(self):
        self.assertTrue(self.publish(lambda t: t["ssn_file"].pop()))

    def test_row_count_short_fails(self):
        self.assertTrue(self.publish(lambda t: t["file"].pop()))


class CorpusCheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.inputs = os.path.join(cls.tmp, "in")
        cls.expect = gen.generate("corpus_curation", SEED, cls.inputs)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def publish(self, mutate=None):
        """Correct outputs computed from the planted facts: junk and all
        but one member of each exact-duplicate group removed, the planted
        pairs as near-duplicates, union-find components, one
        representative each."""
        facts = self.expect["batches"][0]
        name = facts["name"]
        d = os.path.join(self.inputs, name)
        docs = [x for p in sorted(os.listdir(d)) for x in check.read_jsonl(os.path.join(d, p))]
        text = {x["id"]: x["text"] for x in docs}
        drop = set(facts["junk"]) | {i for g in facts["exact_groups"] for i in g[1:]}
        verts = sorted(set(text) - drop)
        pairs = [{"id_a": a, "id_b": b, "jaccard": round(gen.jaccard(text[a], text[b]), 4)}
                 for a, b in facts["planted_pairs"]]
        comp = {v: v for v in verts}
        for _ in verts:  # label propagation to the minimum id
            for p in pairs:
                m = min(comp[p["id_a"]], comp[p["id_b"]])
                comp[p["id_a"]] = comp[p["id_b"]] = m
        groups = {}
        for v in verts:
            groups.setdefault(comp[v], []).append(v)
        kept = [{"id": max(ms, key=lambda v: (len(text[v]), -v))} for ms in groups.values()]
        for k in kept:
            k["text"] = text[k["id"]]
        out = {"pairs": pairs, "kept": kept,
               "components": [{"id": v, "component": comp[v]} for v in verts]}
        if mutate:
            mutate(out, text)
        odir = os.path.join(self.tmp, "out")
        os.makedirs(odir, exist_ok=True)
        for k, rows in out.items():
            with open(os.path.join(odir, f"{k}.jsonl"), "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rows)
        result = {"batches": [{"name": name, "out": odir}]}
        return check.check("corpus_curation", self.expect, result, self.inputs)

    def test_correct_output_passes(self):
        errs, recall = self.publish()
        self.assertEqual(errs, [])
        self.assertEqual(recall, 1.0)

    def test_wrong_jaccard_fails(self):
        def skew(out, _):
            out["pairs"][0]["jaccard"] = round(out["pairs"][0]["jaccard"] - 0.01, 4)
        self.assertTrue(self.publish(skew)[0])

    def test_pair_below_threshold_fails(self):
        def low(out, text):
            s = sorted(self.expect["batches"][0]["singles"][:2])
            out["pairs"].append({"id_a": s[0], "id_b": s[1],
                                 "jaccard": round(gen.jaccard(text[s[0]], text[s[1]]), 4)})
        self.assertTrue(self.publish(low)[0])

    def test_split_component_fails(self):
        def split(out, _):
            a = out["pairs"][0]["id_b"]
            for c in out["components"]:
                if c["id"] == a:
                    c["component"] = a
        self.assertTrue(self.publish(split)[0])

    def test_junk_survivor_fails(self):
        def junk(out, text):
            j = self.expect["batches"][0]["junk"][0]
            out["components"].append({"id": j, "component": j})
            out["kept"].append({"id": j, "text": text[j]})
        self.assertTrue(self.publish(junk)[0])

    def test_exact_duplicate_survivor_fails(self):
        def dup(out, text):
            j = self.expect["batches"][0]["exact_groups"][0][1]
            out["components"].append({"id": j, "component": j})
            out["kept"].append({"id": j, "text": text[j]})
        self.assertTrue(self.publish(dup)[0])

    def test_missed_pair_lowers_recall(self):
        errs, recall = self.publish(lambda out, _: out["pairs"].pop())
        self.assertLess(recall, 1.0)


class SnapshotCheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.expect = gen.generate("snapshot_ingest", SEED, cls.tmp)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def reads(self):
        e = self.expect
        out = []
        for rnd in (e["warmup"], e["round"]):
            for k in map(int, rnd):
                for of in [k] + ([k - 2] if k % e["asof_every"] == e["asof_every"] - 1 else []):
                    v = e["versions"][of]
                    out.append({"step": k, "of": of, "count": v["count"],
                                "distinct": v["count"], "checksum": str(v["checksum"])})
        return out

    def check(self, reads):
        return check.check("snapshot_ingest", self.expect,
                           {"rounds": 1, "reads": reads}, self.tmp)[0]

    def test_correct_reads_pass(self):
        self.assertEqual(self.check(self.reads()), [])

    def test_wrong_count_fails(self):
        r = self.reads()
        r[-1]["count"] -= 1
        r[-1]["distinct"] -= 1
        self.assertTrue(self.check(r))

    def test_wrong_checksum_fails(self):
        r = self.reads()
        r[3]["checksum"] = str(int(r[3]["checksum"]) + 7)
        self.assertTrue(self.check(r))

    def test_row_landing_twice_fails(self):
        r = self.reads()
        r[1]["distinct"] -= 1
        self.assertTrue(self.check(r))

    def test_missing_read_fails(self):
        self.assertTrue(self.check(self.reads()[:-1]))


if __name__ == "__main__":
    unittest.main()
