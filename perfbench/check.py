"""Independent output checkers, one per workload.

Each checker compares what the program wrote against facts the generator
planted (gen.py's expect.json) or against a computation made here, apart
from the program: exact shingle Jaccard and a union-find for the corpus,
an in-memory model of the keyed table for the snapshot workload. Each
returns a list of error strings (empty = correct) and the planted-fact
recall of the run.
"""
import csv
import json
import os
from urllib.parse import urlparse

from gen import FK, ID_OF, INT_PROPS, jaccard

NODES = ["study", "participant", "sample", "file"]


def local_path(uri):
    return urlparse(uri).path if uri.startswith("file:") else uri


def raw_dir(transformed):
    """The bucket directory where a batch's raw workbook is archived,
    beside its `transformed` directory."""
    return transformed.replace(os.sep + "transformed" + os.sep, os.sep + "raw" + os.sep)


def read_tsv(path):
    with open(path, newline="") as f:
        return list(csv.DictReader(f, delimiter="\t", quotechar='"', escapechar="\\"))


# ---------------------------------------------------------------- cds_etl

def check_cds_batch(facts, transformed, raw_xlsx, input_xlsx):
    errs = []
    name = facts["name"]
    exp = facts["expected"]
    out = {}
    for node in NODES:
        p = os.path.join(transformed, f"{name}-{node}.tsv")
        if not os.path.exists(p):
            errs.append(f"{name}: missing {node} output")
            out[node] = []
            continue
        out[node] = read_tsv(p)
    if os.path.exists(os.path.join(transformed, f"{name}-treatment.tsv")):
        errs.append(f"{name}: removed node treatment was written")
    ids = {}
    for node in NODES:
        idc = ID_OF[node]
        got = [r.get(idc, "") for r in out[node]]
        ids[node] = set(got)
        if len(got) != len(ids[node]):
            errs.append(f"{name}: {node} ids not unique ({len(got)} rows, "
                        f"{len(ids[node])} ids)")
        want = exp[node]
        if set(got) != set(want):
            extra = sorted(set(got) - set(want))[:5]
            missing = sorted(set(want) - set(got))[:5]
            errs.append(f"{name}: {node} ids differ: {len(got)} rows vs "
                        f"{len(want)} expected; extra {extra} missing {missing}")
        for r in out[node]:
            w = want.get(r.get(idc))
            if w is None:
                continue
            for col, v in w.items():
                if r.get(col) != v:
                    errs.append(f"{name}: {node} {r.get(idc)} {col}={r.get(col)!r}, "
                                f"expected {v!r}")
                    break
            for col in INT_PROPS:
                if (r.get(col) or "").endswith(".0"):
                    errs.append(f"{name}: {node} {r.get(idc)} {col} keeps '.0'")
    # foreign keys: every non-null pointer names a parent that survived
    for node, (fk, parent) in FK.items():
        for r in out[node]:
            v = r.get(fk)
            if v is None:
                errs.append(f"{name}: {node} lacks pointer column {fk}")
                break
            if v and v not in ids[parent]:
                errs.append(f"{name}: {node} {r.get(ID_OF[node])} orphan {fk}={v}")
                break
    # reports: SSN-shaped file names and conflicting ids
    p = os.path.join(transformed, f"{name}-ssn_file.tsv")
    ssn = sorted(r["file_name"] for r in read_tsv(p)) if os.path.exists(p) else []
    if ssn != facts["ssn_file_names"]:
        errs.append(f"{name}: SSN report lists {ssn[:5]}, expected "
                    f"{facts['ssn_file_names'][:5]}")
    for node, want in facts["conflicts"].items():
        p = os.path.join(transformed, f"{name}-id_validation_{node}.tsv")
        got = sorted(r[ID_OF[node]] for r in read_tsv(p)) if os.path.exists(p) else []
        if got != want:
            errs.append(f"{name}: id report for {node} lists {got[:5]}, expected {want[:5]}")
    # the published raw workbook is the input, byte for byte
    if not os.path.exists(raw_xlsx):
        errs.append(f"{name}: raw workbook not published")
    else:
        with open(raw_xlsx, "rb") as a, open(input_xlsx, "rb") as b:
            if a.read() != b.read():
                errs.append(f"{name}: published workbook differs from the input")
    return errs


def check_cds(expect, result, inputs):
    facts = {b["name"]: b for b in expect["batches"]}
    errs = []
    for b in result["batches"]:
        transformed = local_path(b["transformed"])
        raw = raw_dir(transformed)
        name = b["name"]
        errs += check_cds_batch(facts[name], transformed, os.path.join(raw, f"{name}.xlsx"),
                                os.path.join(inputs, "data", name, f"{name}.xlsx"))
    # a missed planted SSN name or conflicting id is an error above
    return errs, 1.0


# -------------------------------------------------------- corpus_curation

def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_corpus_batch(facts, docs, out, threshold):
    """Returns (errors, planted pairs found, planted pairs)."""
    errs = []
    text = {d["id"]: d["text"] for d in docs}
    pairs = read_jsonl(os.path.join(out, "pairs.jsonl"))
    comps = read_jsonl(os.path.join(out, "components.jsonl"))
    kept = read_jsonl(os.path.join(out, "kept.jsonl"))
    name = facts["name"]
    vertices = {c["id"] for c in comps}
    if len(vertices) != len(comps):
        errs.append(f"{name}: a document has several components")
    for p in pairs:
        a, b, j = p["id_a"], p["id_b"], p["jaccard"]
        if not a < b or a not in vertices or b not in vertices:
            errs.append(f"{name}: bad pair ({a}, {b})")
            continue
        exact = jaccard(text[a], text[b])
        if abs(exact - j) > 1.5e-4 or exact < threshold - 1e-9:
            errs.append(f"{name}: pair ({a}, {b}) reports {j}, exact Jaccard {exact:.6f}")
    # filters: junk gone, one survivor per exact-duplicate group, clean
    # singletons and near-duplicate members kept as vertices
    junk = vertices & set(facts["junk"])
    if junk:
        errs.append(f"{name}: {len(junk)} junk documents survive, e.g. {sorted(junk)[:3]}")
    for g in facts["exact_groups"]:
        n = len(vertices & set(g))
        if n != 1:
            errs.append(f"{name}: exact-duplicate group {g} leaves {n} documents")
    clean = set(facts["singles"]) | {i for p in facts["planted_pairs"] for i in p}
    missing = clean - vertices
    if missing:
        errs.append(f"{name}: {len(missing)} clean documents dropped, e.g. {sorted(missing)[:3]}")
    # components equal a union-find over the reported pairs
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for p in pairs:
        if p["id_a"] in parent and p["id_b"] in parent:
            ra, rb = find(p["id_a"]), find(p["id_b"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for v in vertices:
        groups.setdefault(find(v), []).append(v)
    label = {c["id"]: c["component"] for c in comps}
    for members in groups.values():
        m = min(members)
        if any(label[v] != m for v in members):
            errs.append(f"{name}: component of {m} mislabelled")
            break
    # one representative per component: longest text, then smallest id
    want = {max(ms, key=lambda v: (len(text[v]), -v)) for ms in groups.values()}
    got = [d["id"] for d in kept]
    if len(got) != len(set(got)) or set(got) != want:
        errs.append(f"{name}: kept {len(got)} documents, expected {len(want)} representatives")
    for d in kept:
        if text.get(d["id"]) != d.get("text"):
            errs.append(f"{name}: kept document {d['id']} text altered")
            break
    reported = {(p["id_a"], p["id_b"]) for p in pairs}
    planted = [tuple(sorted(p)) for p in facts["planted_pairs"]]
    found = sum(1 for p in planted if p in reported)
    return errs, found, len(planted)


def check_corpus(expect, result, inputs):
    facts = {b["name"]: b for b in expect["batches"]}
    docs = {}
    errs, found, total = [], 0, 0
    for b in result["batches"]:
        name = b["name"]
        if name not in docs:
            docs[name] = [d for p in sorted(os.listdir(os.path.join(inputs, name)))
                          for d in read_jsonl(os.path.join(inputs, name, p))]
        e, f, t = check_corpus_batch(facts[name], docs[name], b["out"], expect["threshold"])
        errs += e
        found += f
        total += t
    return errs, (found / total if total else 1.0)


# -------------------------------------------------------- snapshot_ingest

def check_snapshot(expect, result, inputs):
    versions = expect["versions"]
    errs = []
    n_steps = len(expect["steps"])
    per_round = n_steps + sum(1 for k in range(n_steps)
                              if k % expect["asof_every"] == expect["asof_every"] - 1)
    reads = result["reads"]
    warm = len(expect["warmup"])
    per_warm = warm + sum(1 for k in range(warm)
                          if k % expect["asof_every"] == expect["asof_every"] - 1)
    if len(reads) != result["rounds"] * per_round + per_warm:
        errs.append(f"{len(reads)} reads for {result['rounds']} timed rounds")
    for r in reads:
        want = versions[r["of"]]
        if r["distinct"] != r["count"]:
            errs.append(f"step {r['step']}: a key landed twice "
                        f"({r['count']} rows, {r['distinct']} keys)")
        if r["count"] != want["count"] or int(r["checksum"]) != want["checksum"]:
            errs.append(f"step {r['step']} read of version {r['of']}: {r['count']} rows "
                        f"checksum {r['checksum']}, model {want['count']} / {want['checksum']}")
    # a re-delivered row that landed again is an error above
    return errs, 1.0


CHECKERS = {"cds_etl": check_cds, "corpus_curation": check_corpus,
            "snapshot_ingest": check_snapshot}


def check(workload, expect, result, inputs):
    return CHECKERS[workload](expect, result, inputs)
