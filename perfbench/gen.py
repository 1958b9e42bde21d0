"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (workload, seed): the same seed
writes byte-identical inputs. Beside the inputs each generator writes
`expect.json`, the planted facts the checkers compare the program's
outputs against (see check.py). The program itself only ever sees the
input files.

Regenerate and print digests:

    python3 perfbench/gen.py --workload cds_etl --seed 7 --out /some/dir
"""
import argparse
import hashlib
import json
import os
import random
import zipfile
from xml.sax.saxutils import escape

# --------------------------------------------------------------------------
# cds_etl: one v1.3 study workbook per batch
# --------------------------------------------------------------------------

# Workbook rows (one row per file record): the untimed warm-up workbook,
# then the workbooks of one timed round. A workbook costs ~120 Spark jobs
# whatever its size, so one timed workbook is what a run can afford.
CDS_WARMUP = [200]
CDS_ROUND = [1000]

# A trimmed reference model (FIXTURES.md F3): the study -> participant ->
# sample -> file spine, plus a node the config removes.
CDS_MODEL = """Nodes:
  study:
    Props: [phs_accession, study_name, study_version, study_data_types, number_of_participants, acl]
  participant:
    Props: [participant_id, gender, race, ethnicity]
  sample:
    Props: [sample_id, sample_type, sample_tumor_status, sample_age_at_collection, sample_anatomic_site]
  file:
    Props: [file_id, file_name, file_type, file_size, md5sum]
  treatment:
    Props: [treatment_id, treatment_type]
Relationships:
  of_study:
    Mul: many_to_one
    Ends:
      - Src: participant
        Dst: study
  of_participant:
    Mul: many_to_one
    Ends:
      - Src: sample
        Dst: participant
      - Src: treatment
        Dst: participant
  of_sample:
    Mul: many_to_one
    Ends:
      - Src: file
        Dst: sample
"""

ENUMS = {
    "study_data_types": ["Genomic", "Imaging", "Proteomic"],
    "gender": ["Male", "Female", "Unknown"],
    "race": ["White", "Asian", "Black or African American", "Not Reported"],
    "ethnicity": ["Hispanic or Latino", "Not Hispanic or Latino", "Unknown"],
    "sample_type": ["Tumor", "Normal", "Metastatic"],
    "sample_tumor_status": ["Tumor", "Normal"],
    "file_type": ["FASTQ", "BAM", "CRAM", "VCF"],
}
INT_PROPS = ["number_of_participants", "sample_age_at_collection", "file_size"]

# dirty spelling -> canonical value, per property (the clean dict)
CLEAN = {
    "gender": {"female": "Female", "male": "Male", "F": "Female", "M": "Male"},
    "race": {"white": "White", "asian": "Asian"},
    "ethnicity": {"latino": "Hispanic or Latino",
                  "not hispanic": "Not Hispanic or Latino"},
    "sample_type": {"tumor": "Tumor", "normal": "Normal"},
    "file_type": {"fastq.gz": "FASTQ", "bam": "BAM", "cram": "CRAM", "vcf.gz": "VCF"},
}
GENDER_NAN = "Unknown"          # clean-dict nan_value for gender
UI_FILL = "Not specified in data"


def _yaml_str(s):
    return json.dumps(s)  # a JSON string is a valid YAML scalar


def cds_props_yaml():
    lines = ["PropDefinitions:"]
    props = ["phs_accession", "study_name", "study_version", "study_data_types",
             "number_of_participants", "acl", "participant_id", "gender", "race",
             "ethnicity", "sample_id", "sample_type", "sample_tumor_status",
             "sample_age_at_collection", "sample_anatomic_site", "file_id",
             "file_name", "file_type", "file_size", "md5sum", "treatment_id",
             "treatment_type"]
    keys = {"phs_accession", "participant_id", "sample_id", "file_id", "treatment_id"}
    for p in props:
        lines.append(f"  {p}:")
        if p in INT_PROPS:
            lines.append("    Type: integer")
        elif p == "md5sum":
            lines.append("    Type: '^[0-9a-fA-F]{32}$'")
        else:
            lines.append("    Type: string")
        if p in ENUMS:
            lines.append("    Enum: [" + ", ".join(_yaml_str(v) for v in ENUMS[p]) + "]")
        if p in keys:
            lines.append("    Key: true")
    return "\n".join(lines) + "\n"


# node -> [(raw column, property)]; a property with several raw spellings
# lists its candidates in priority order
RAW_DICT = {
    "study": [("phs_accession", "phs_accession"), ("study_name", "study_name"),
              ("study_version", "study_version"), ("study_data_types", "study_data_types"),
              ("number_of_participants", "number_of_participants"), ("acl", "acl")],
    "participant": [("participant_id", "participant_id"), ("gender", "gender"),
                    ("race", "race"), ("ethnicity", "ethnicity")],
    "sample": [("sample_id", "sample_id"), ("sample_type", "sample_type"),
               ("sample_tumor_status", "sample_tumor_status"),
               ("sample_age_at_collection", "sample_age_at_collection"),
               ("age_at_collection", "sample_age_at_collection"),
               ("sample_anatomic_site", "sample_anatomic_site")],
    "file": [("GUID", "file_id"), ("file_name", "file_name"), ("file_type", "file_type"),
             ("file_format", "file_type"), ("file_size", "file_size"),
             ("md5sum", "md5sum"), ("md5", "md5sum")],
    "treatment": [("treatment_id", "treatment_id"), ("treatment_type", "treatment_type")],
}


def cds_raw_dict_yaml():
    out = []
    for node, pairs in RAW_DICT.items():
        out.append(f"{node}:")
        out += [f"  {raw}: {prop}" for raw, prop in pairs]
    return "\n".join(out) + "\n"


def cds_clean_dict_yaml():
    out = []
    for prop, m in CLEAN.items():
        out.append(f"{prop}:")
        out += [f"  {_yaml_str(k)}: {_yaml_str(v)}" for k, v in m.items()]
        if prop == "gender":
            out.append(f"  nan_value: {_yaml_str(GENDER_NAN)}")
    return "\n".join(out) + "\n"


CDS_CONFIG = """RATIO_LIMIT: 0.75
NODE_ID_FIELD:
  study: phs_accession
  participant: participant_id
  sample: sample_id
  file: file_id
  treatment: treatment_id
PARENT_MAPPING_COLUMNS:
  - node: participant
    parent_node: study
    property: phs_accession
  - node: sample
    parent_node: participant
    property: participant_id
  - node: file
    parent_node: sample
    property: sample_id
COMBINE_NODE:
  - node: study
    id_column: phs_accession
REMOVE_NODES: [treatment]
UI_REQUIRED:
  participant: [race]
  sample: [sample_anatomic_site]
"""

# child node -> (pointer column, parent node)
FK = {"participant": ("study.phs_accession", "study"),
      "sample": ("participant.participant_id", "participant"),
      "file": ("sample.sample_id", "sample")}
ID_OF = {"study": "phs_accession", "participant": "participant_id",
         "sample": "sample_id", "file": "file_id"}


def _dirty(rng, prop, canon, p=0.35):
    """A per-entity spelling: the canonical value or one of its variants."""
    variants = [k for k, v in CLEAN.get(prop, {}).items() if v == canon]
    if variants and rng.random() < p:
        return rng.choice(variants)
    return canon


def _int_render(rng, v):
    return f"{v}.0" if rng.random() < 0.3 else v  # float-rendered integer


def _pad(rng, s):
    """Per-cell surrounding whitespace (trimmed by the pipeline)."""
    if isinstance(s, str) and rng.random() < 0.05:
        return " " + s + "  "
    return s


def cds_workbook(seed, wb, n):
    """Rows of one study workbook plus its expected per-node outputs.

    Every entity keeps one spelling of its values across its rows, so the
    pipeline's dedup-then-clean order sees one row per entity; the planted
    faults are listed in the returned facts."""
    rng = random.Random(f"{seed}:cds:{wb}")
    age_col = "age_at_collection" if rng.random() < 0.5 else "sample_age_at_collection"
    type_col = "file_format" if rng.random() < 0.5 else "file_type"
    md5_col = "md5" if rng.random() < 0.5 else "md5sum"
    header = ["phs_accession", "study_name", "study_version", "study_data_types",
              "number_of_participants", "acl",
              "participant_id", "gender", "race", "ethnicity",
              "sample_id", "sample_type", "sample_tumor_status", age_col,
              "GUID", "file_name", type_col, "file_size", md5_col]
    phs = f"phs{100000 + (seed % 9000) * 10 + wb:06d}"
    n_part = max(3, n // 12)
    n_samp = max(4, n // 3)
    # ---- entities ----
    parts = []
    for i in range(n_part):
        gender = rng.choice(ENUMS["gender"][:2])
        g_raw = None if rng.random() < 0.05 else _dirty(rng, "gender", gender)
        race = rng.choice(ENUMS["race"])
        r_raw = None if rng.random() < 0.1 else _dirty(rng, "race", race)
        eth = rng.choice(ENUMS["ethnicity"])
        parts.append({"participant_id": f"P{wb}x{i:06d}",
                      "gender": g_raw, "g": gender if g_raw is not None else GENDER_NAN,
                      "race": r_raw, "r": race if r_raw is not None else UI_FILL,
                      "ethnicity": _dirty(rng, "ethnicity", eth), "e": eth})
    samples = []
    for i in range(n_samp):
        # every participant owns at least one sample
        p = i if i < n_part else rng.randrange(n_part)
        st = rng.choice(ENUMS["sample_type"])
        age = rng.randint(1, 89)
        samples.append({"sample_id": f"S{wb}x{i:06d}", "p": p,
                        "sample_type": _dirty(rng, "sample_type", st), "st": st,
                        "sample_tumor_status": rng.choice(ENUMS["sample_tumor_status"]),
                        "age_raw": _int_render(rng, age), "age": age})
    data_types = ["Genomic"] + (["Imaging"] if rng.random() < 0.5 else [])
    n_participants_raw = _int_render(rng, n_part)
    # ---- one file record per row ----
    files = []
    for i in range(n):
        s = i if i < n_samp else rng.randrange(n_samp)   # every sample has a file
        ft = rng.choice(ENUMS["file_type"])
        size = rng.randint(10_000, 90_000_000_000)
        files.append({"file_id": f"F{wb}x{i:06d}", "s": s,
                      "file_name": f"reads_{i:06d}_R1.{ft.lower()}",
                      "file_type": _dirty(rng, "file_type", ft), "ft": ft,
                      "size": size, "size_raw": _int_render(rng, size),
                      "md5": "%032x" % rng.getrandbits(128),
                      "dtype": rng.choice(data_types), "null_parent": False})
    # ---- planted faults ----
    # files carrying an SSN-shaped token in their name
    ssn_files = rng.sample(range(n), max(1, n // 200))
    for i in ssn_files:
        files[i]["file_name"] = "scan_%03d-%02d-%04d_%06d.bam" % (
            rng.randint(100, 899), rng.randint(10, 99), rng.randint(1000, 9999), i)
    # files whose parent columns are blank (whitespace-only cells); picked
    # among rows whose sample keeps another file, so no sample vanishes
    files_of = {}
    for i, f in enumerate(files):
        files_of.setdefault(f["s"], []).append(i)
    multi = [i for i, f in enumerate(files) if len(files_of[f["s"]]) > 1 and
             files_of[f["s"]][0] != i]
    null_parent = set(rng.sample(multi, max(1, n // 500)))
    for i in null_parent:
        files[i]["null_parent"] = True
    # samples with a conflicting row: one of their (parented) file rows
    # carries a different sample_type
    with_two = [s for s, fs in files_of.items()
                if len([i for i in fs if i not in null_parent]) >= 2]
    conflict_samples = set(rng.sample(with_two, max(1, n_samp // 40)))
    conflict_row = {}
    for s in sorted(conflict_samples):
        rows = [i for i in files_of[s] if i not in null_parent]
        other = [t for t in ENUMS["sample_type"] if t != samples[s]["st"]]
        conflict_row[rows[-1]] = ("sample_type", rng.choice(other))
    # one participant with a conflicting race on one of its rows
    part_rows = {}
    for i, f in enumerate(files):
        if not f["null_parent"] and i not in conflict_row:
            part_rows.setdefault(samples[f["s"]]["p"], []).append(i)
    cand = sorted(p for p, rows in part_rows.items()
                  if len(rows) >= 2 and parts[p]["race"] is not None)
    conflict_parts = {rng.choice(cand)}
    for p in conflict_parts:
        other = [r for r in ENUMS["race"] if r != parts[p]["r"]]
        conflict_row[part_rows[p][-1]] = ("race", rng.choice(other))
    # exact duplicate rows
    dup_rows = set(rng.sample(range(n), max(1, n // 200)))

    # ---- rows ----
    rows = []
    for i, f in enumerate(files):
        s = samples[f["s"]]
        p = parts[s["p"]]
        row = {"phs_accession": phs, "study_name": f"Study {phs}", "study_version": "1",
               "study_data_types": f["dtype"], "number_of_participants": n_participants_raw,
               "acl": f"['{phs}']",
               "GUID": f["file_id"], "file_name": f["file_name"], type_col: f["file_type"],
               "file_size": f["size_raw"], md5_col: f["md5"]}
        if not f["null_parent"]:
            row.update({"participant_id": p["participant_id"], "gender": p["gender"],
                        "race": p["race"], "ethnicity": p["ethnicity"],
                        "sample_id": s["sample_id"], "sample_type": s["sample_type"],
                        "sample_tumor_status": s["sample_tumor_status"],
                        age_col: s["age_raw"]})
        else:
            for c in ("participant_id", "gender", "sample_id", "sample_type"):
                row[c] = "   "
        if i in conflict_row:
            c, v = conflict_row[i]
            row[c] = v
        rows.append([_pad(rng, row.get(h)) for h in header])
        if i in dup_rows:
            rows.append([row.get(h) for h in header])

    # ---- expected outputs ----
    # a conflicting id is deleted with every descendant; the cascade also
    # removes file rows whose only parent pointer is null
    dead_parts = set(conflict_parts)
    dead_samples = set(conflict_samples) | {i for i, s in enumerate(samples)
                                            if s["p"] in dead_parts}
    dead_files = {i for i, f in enumerate(files) if f["null_parent"] or f["s"] in dead_samples}
    exp = {"study": {phs: {"study_data_types": ", ".join(sorted({f["dtype"] for f in files})),
                           "number_of_participants": str(n_part)}},
           "participant": {}, "sample": {}, "file": {}}
    for i, p in enumerate(parts):
        if i not in dead_parts:
            exp["participant"][p["participant_id"]] = {
                "gender": p["g"], "race": p["r"], "ethnicity": p["e"],
                "study.phs_accession": phs}
    for i, s in enumerate(samples):
        if i not in dead_samples:
            exp["sample"][s["sample_id"]] = {
                "sample_type": s["st"], "sample_age_at_collection": str(s["age"]),
                "sample_anatomic_site": UI_FILL,
                "participant.participant_id": parts[s["p"]]["participant_id"]}
    for i, f in enumerate(files):
        if i not in dead_files:
            exp["file"][f["file_id"]] = {
                "file_type": f["ft"], "file_size": str(f["size"]), "md5sum": f["md5"],
                "file_name": f["file_name"],
                "sample.sample_id": samples[f["s"]]["sample_id"]}
    facts = {"rows": n, "wide_rows": len(rows), "expected": exp,
             "ssn_file_names": sorted(files[i]["file_name"] for i in ssn_files),
             "conflicts": {"sample": sorted(samples[s]["sample_id"] for s in conflict_samples),
                           "participant": sorted(parts[p]["participant_id"]
                                                 for p in conflict_parts)},
             "null_parent_files": sorted(files[i]["file_id"] for i in null_parent)}
    return header, rows, facts


def _col_ref(j):
    s = ""
    j += 1
    while j:
        j, r = divmod(j - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, sheet, header, rows):
    """A minimal OOXML workbook: one sheet, inline strings, numeric cells."""
    def cell(ref, v):
        if v is None:
            return ""
        if isinstance(v, int):
            return f'<c r="{ref}"><v>{v}</v></c>'
        if isinstance(v, str) and v.endswith(".0") and v[:-2].isdigit():
            return f'<c r="{ref}"><v>{v}</v></c>'
        return (f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                f'{escape(str(v))}</t></is></c>')
    refs = [_col_ref(j) for j in range(len(header))]
    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
           '<sheetData>']
    for r, vals in enumerate([header] + rows, start=1):
        out.append(f'<row r="{r}">' + "".join(cell(f"{refs[j]}{r}", v)
                                              for j, v in enumerate(vals)) + "</row>")
    out.append("</sheetData></worksheet>")
    ct = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
          '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
          '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
          '<Default Extension="xml" ContentType="application/xml"/>'
          '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
          '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
          '</Types>')
    rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>')
    wb = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
          '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
          'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
          f'<sheets><sheet name="{sheet}" sheetId="1" r:id="rId1"/></sheets></workbook>')
    wbrels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
              '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
              '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
              '</Relationships>')
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        # a fixed timestamp keeps the archive bytes a function of the seed
        for name, body in [("[Content_Types].xml", ct), ("_rels/.rels", rels),
                           ("xl/workbook.xml", wb), ("xl/_rels/workbook.xml.rels", wbrels),
                           ("xl/worksheets/sheet1.xml", "".join(out))]:
            z.writestr(zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0)), body,
                       zipfile.ZIP_DEFLATED)


def gen_cds(seed, out):
    cfg = os.path.join(out, "config")
    os.makedirs(cfg, exist_ok=True)
    for name, body in [("model.yml", CDS_MODEL), ("props.yml", cds_props_yaml()),
                       ("raw_dict.yml", cds_raw_dict_yaml()),
                       ("clean_dict.yml", cds_clean_dict_yaml()),
                       ("config.yml", CDS_CONFIG)]:
        with open(os.path.join(cfg, name), "w") as f:
            f.write(body)
    batches = []
    for wb, n in enumerate(CDS_WARMUP + CDS_ROUND):
        name = f"study{wb}"
        d = os.path.join(out, "data", name)
        os.makedirs(d, exist_ok=True)
        header, rows, facts = cds_workbook(seed, wb, n)
        write_xlsx(os.path.join(d, f"{name}.xlsx"), "Metadata", header, rows)
        facts["name"] = name
        batches.append(facts)
    names = [b["name"] for b in batches]
    return {"workload": "cds_etl", "seed": seed, "batches": batches,
            "warmup": names[:len(CDS_WARMUP)], "round": names[len(CDS_WARMUP):]}


# --------------------------------------------------------------------------
# corpus_curation: one JSONL shard per batch
# --------------------------------------------------------------------------

# documents per shard: the untimed warm-up shard, then one timed round of
# two shards, so each run reports the median of two batches.
CORPUS_WARMUP = [1000]
CORPUS_ROUND = [1000, 1000]
CORPUS_PARTS = 4           # part files per shard
NEAR_DUP_THRESHOLD = 0.7
QUALITY_MIN = 0.6
STOP = ["the", "a", "of", "and", "to", "in", "is"]


def _vocab(rng, k):
    letters = "bcdfghjklmnprstvwz"
    vowels = "aeiou"
    words = set()
    while len(words) < k:
        words.add("".join(rng.choice(letters) + rng.choice(vowels)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _doc_tokens(rng, vocab, n):
    return [rng.choice(STOP) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(n)]


def shingles(text, n=3):
    """Distinct word n-grams of the whitespace-split text; a text shorter
    than n tokens is one gram of all its tokens."""
    toks = text.strip().split()
    if not toks:
        toks = [""]
    m = max(len(toks) - n + 1, 1)
    return {" ".join(toks[i:i + n]) for i in range(m)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def corpus_shard(seed, shard, n, base_id):
    rng = random.Random(f"{seed}:corpus:{shard}")
    vocab = _vocab(random.Random(f"{seed}:vocab"), 4000)
    docs, kinds = [], {}
    next_id = [base_id]

    def add(text, kind):
        i = next_id[0]
        next_id[0] += 1
        docs.append({"id": i, "text": text})
        kinds[i] = kind
        return i

    clusters, exact_groups = [], []
    n_junk = n // 10
    n_exact = n // 20
    n_clusters = n // 16
    budget = n - n_junk
    while budget > 0:
        r = rng.random()
        base = _doc_tokens(rng, vocab, rng.randint(120, 260))
        if r < 0.12 and n_clusters > 0 and budget >= 4:
            # near-duplicate cluster: base plus 1-3 variants with a few
            # tokens replaced (pairwise Jaccard ~0.75-0.95)
            ids = [add(" ".join(base), "near")]
            for _ in range(rng.randint(1, 3)):
                v = list(base)
                for _ in range(rng.randint(1, max(2, len(v) // 40))):
                    v[rng.randrange(len(v))] = rng.choice(vocab)
                ids.append(add(" ".join(v), "near"))
            clusters.append(ids)
            n_clusters -= 1
            budget -= len(ids)
        elif r < 0.2 and n_exact > 0 and budget >= 3:
            # exact duplicates up to case and whitespace
            t = " ".join(base)
            copies = [t, "  " + t[:1].upper() + t[1:] + " ", t.replace(" ", "   ", 3)]
            ids = [add(c, "exact") for c in copies[:rng.randint(2, 3)]]
            exact_groups.append(ids)
            n_exact -= 1
            budget -= len(ids)
        else:
            add(" ".join(base), "single")
            budget -= 1
    for j in range(n_junk):
        if j % 2 == 0:   # short, punctuation-heavy, no stopwords
            t = " ".join(rng.choice(vocab) + rng.choice("!?;:,.") * rng.randint(1, 4)
                         for _ in range(rng.randint(5, 25)))
        else:            # long, but German
            t = " ".join(rng.choice(["der", "und", "die", "nicht", "das", "ist"])
                         if rng.random() < 0.4 else rng.choice(vocab)
                         for _ in range(rng.randint(120, 200)))
        add(t, "junk")
    rng.shuffle(docs)
    # planted near-duplicate pairs at or above the threshold, by exact
    # shingle Jaccard computed here
    text = {d["id"]: d["text"] for d in docs}
    planted = []
    for ids in clusters:
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                j = jaccard(text[ids[a]], text[ids[b]])
                if j >= NEAR_DUP_THRESHOLD:
                    planted.append([ids[a], ids[b]])
    return docs, {"docs": len(docs), "planted_pairs": planted,
                  "exact_groups": exact_groups,
                  "junk": sorted(i for i, k in kinds.items() if k == "junk"),
                  "singles": sorted(i for i, k in kinds.items() if k == "single")}


def gen_corpus(seed, out):
    os.makedirs(out, exist_ok=True)
    batches = []
    base = 1
    for shard, n in enumerate(CORPUS_WARMUP + CORPUS_ROUND):
        docs, facts = corpus_shard(seed, shard, n, base)
        base += 1_000_000
        name = f"shard{shard}"
        d = os.path.join(out, name)
        os.makedirs(d, exist_ok=True)
        for p in range(CORPUS_PARTS):
            with open(os.path.join(d, f"part-{p}.jsonl"), "w") as f:
                for doc in docs[p::CORPUS_PARTS]:
                    f.write(json.dumps(doc) + "\n")
        facts["name"] = name
        batches.append(facts)
    names = [b["name"] for b in batches]
    return {"workload": "corpus_curation", "seed": seed, "threshold": NEAR_DUP_THRESHOLD,
            "quality_min": QUALITY_MIN, "batches": batches,
            "warmup": names[:len(CORPUS_WARMUP)], "round": names[len(CORPUS_WARMUP):]}


# --------------------------------------------------------------------------
# snapshot_ingest: one fixed sequence of ingest steps per round
# --------------------------------------------------------------------------

# The step sequence of one round (a = append, m = keyed merge with deletes,
# r = rewrite/compaction). Every round replays it on a fresh table; the
# untimed warm-up runs its first SNAP_WARMUP steps, one of each kind.
SNAP_STEPS = "amramr"
SNAP_WARMUP = 3
SNAP_APPEND_ROWS = 2000
SNAP_REDELIVER = 0.2
SNAP_UPSERTS = 300
SNAP_DELETES = 100
SNAP_ASOF_EVERY = 3        # a version read every this many commits
CHECK_MUL = 1000003        # row checksum = kn * CHECK_MUL + v


def gen_snapshot(seed, out):
    rng = random.Random(f"{seed}:snap")
    os.makedirs(out, exist_ok=True)
    table = {}       # key -> (kn, v, payload): the in-memory model
    seen = set()     # keys ever offered to an append (SeenKeys' state)
    delivered = []   # rows of earlier appends, for re-delivery
    next_kn = 0
    steps, versions = [], []
    for k, kind in enumerate(SNAP_STEPS):
        step = {"kind": kind, "input_bytes": 0}
        if kind == "a":
            rows = []
            n_re = int(SNAP_APPEND_ROWS * SNAP_REDELIVER) if delivered else 0
            rows += rng.sample(delivered, min(n_re, len(delivered)))
            while len(rows) < SNAP_APPEND_ROWS:
                kn = next_kn
                next_kn += 1
                rows.append({"key": f"k{kn:08d}", "kn": kn, "v": rng.randint(0, 999_999),
                             "payload": "".join(rng.choice("abcdefghij")
                                                for _ in range(rng.randint(20, 60)))})
            rng.shuffle(rows)
            for r in rows:
                if r["key"] not in seen:
                    seen.add(r["key"])
                    table[r["key"]] = (r["kn"], r["v"], r["payload"])
                    delivered.append(r)
            step["file"] = f"step{k:02d}-append.jsonl"
            step["rows"] = len(rows)
            lines = [json.dumps(r) for r in rows]
        elif kind == "m":
            live = sorted(table)
            picked = rng.sample(live, SNAP_UPSERTS + SNAP_DELETES)
            ups, dels = picked[:SNAP_UPSERTS], picked[SNAP_UPSERTS:]
            rows = []
            for key in ups:
                kn, _, payload = table[key]
                v = rng.randint(0, 999_999)
                table[key] = (kn, v, payload)
                rows.append({"key": key, "kn": kn, "v": v, "payload": payload})
            for key in dels:
                del table[key]
            step["file"] = f"step{k:02d}-upsert.jsonl"
            step["delete_file"] = f"step{k:02d}-delete.jsonl"
            step["rows"] = len(rows) + len(dels)
            with open(os.path.join(out, step["delete_file"]), "w") as f:
                body = "".join(json.dumps({"key": key}) + "\n" for key in dels)
                f.write(body)
            step["input_bytes"] += len(body.encode())
            lines = [json.dumps(r) for r in rows]
        else:
            lines = None
            step["rows"] = 0
        if lines is not None:
            body = "".join(line + "\n" for line in lines)
            with open(os.path.join(out, step["file"]), "w") as f:
                f.write(body)
            step["input_bytes"] += len(body.encode())
        # the state every reader must see once this step has committed
        versions.append({"count": len(table),
                         "checksum": sum(kn * CHECK_MUL + v for kn, v, _ in table.values())})
        steps.append(step)
    return {"workload": "snapshot_ingest", "seed": seed, "steps": steps,
            "warmup": [str(k) for k in range(SNAP_WARMUP)],
            "round": [str(k) for k in range(len(steps))],
            "versions": versions, "asof_every": SNAP_ASOF_EVERY, "check_mul": CHECK_MUL}


# --------------------------------------------------------------------------

GENERATORS = {"cds_etl": gen_cds, "corpus_curation": gen_corpus,
              "snapshot_ingest": gen_snapshot}


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out`; returns the
    planted facts (also written to out/expect.json)."""
    facts = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(facts, f)
    return facts


def digests(root):
    """sha256 of every generated file, by path relative to root."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return dict(sorted(out.items()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
    for path, h in digests(a.out).items():
        print(f"{h}  {path}")


if __name__ == "__main__":
    main()
