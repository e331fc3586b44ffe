"""Seeded synthetic clinical corpus for the pipeline benchmark.

Writes the twelve entity TSVs (with the column headers of the repo's
clinical fixtures), `metadata.json`, `dictionary.json` and the four
gzipped ontology term files (with precomputed `ancestors`) that
`graft.Main process` reads, plus a manifest beside the corpus directory
that records the declared row counts and the per-study figures the
output gate checks against.

One (shape, seed) pair always gives byte-identical files. Row totals
depend on the shape only: every per-parent fan-out is a fixed multiset
of counts that the seed merely shuffles, and study sizes follow a
deterministic Zipf apportionment whose ranks the seed assigns. So two
seeds differ in arrangement and content, never in corpus size.

    python3 perfbench/corpus.py generate --shape wide --seed 7 --out DIR
    python3 perfbench/corpus.py selftest
"""

import argparse
import gzip
import hashlib
import json
import os
import random
import shutil
import sys
import tempfile

# Per-workload corpus shapes. `fanout` values are inclusive (lo, hi)
# ranges spread evenly over the parents, so a range's mean is exact.
SHAPES = {
    # Many donors in Zipf-skewed studies with wide per-donor fan-outs
    # and a shallow ontology: TSV parsing, id minting, the nest joins
    # and the JSON sinks carry the work.
    "wide": {
        "studies": 24, "zipf": 1.1, "donors": 2400,
        "biospecimens": (1, 3), "samples": (1, 3), "files": (2, 6),
        "phenotypes": (1, 2), "diagnoses": (1, 2), "treatments": (0, 2),
        "follow_ups": (0, 2), "family_conditions": (0, 2),
        "exposure_share": 0.8, "family_share": 0.5,
        "hpo_terms": 400, "hpo_depth": 4,
        "mondo_terms": 400, "mondo_depth": 4,
        "icd_chapters": 9, "icd_blocks": 4, "icd_codes": 8,
    },
    # Few donors and files, tens of phenotypes and diagnoses per donor,
    # and ~20k-term ontologies of depth 14: ancestor expansion and the
    # per-(donor, term) merge carry the work.
    "deep": {
        "studies": 4, "zipf": 0.0, "donors": 320,
        "biospecimens": (1, 1), "samples": (1, 1), "files": (1, 1),
        "phenotypes": (20, 40), "diagnoses": (10, 30), "treatments": (0, 1),
        "follow_ups": (0, 1), "family_conditions": (0, 1),
        "exposure_share": 0.5, "family_share": 0.25,
        "hpo_terms": 20000, "hpo_depth": 14,
        "mondo_terms": 20000, "mondo_depth": 14,
        "icd_chapters": 9, "icd_blocks": 4, "icd_codes": 8,
    },
}

# Column headers of the repo's clinical fixtures
# (src/test/resources/clinical), file name -> header.
HEADERS = {
    "study.tsv": ["study_id", "name", "domain", "access_limitations",
                  "access_requirements", "internal_notes"],
    "donor.tsv": ["study_id", "submitter_donor_id", "dob", "age TODAY",
                  "gender", "ethnicity", "vital_status", "is_a_proband"],
    "phenotype.tsv": ["study_id", "submitter_donor_id",
                      "submitter_phenotype_id", "phenotype_HPO_code",
                      "phenotype_HPO_term", "age_at_phenotype",
                      "phenotype_observed"],
    "biospecimen.tsv": ["study_id", "submitter_donor_id",
                        "submitter_biospecimen_id",
                        "biospecimen_tissue_source", "biospecimen_type",
                        "is_cancer"],
    "sample_registration.tsv": ["study_id", "submitter_donor_id",
                                "submitter_biospecimen_id",
                                "submitter_sample_id", "sample_type"],
    "file.tsv": ["study_id", "submitter_donor_id",
                 "submitter_biospecimen_id", "file_name", "data_category",
                 "data_type", "experimental_strategy", "file_format",
                 "data_access"],
    "diagnosis.tsv": ["study_id", "submitter_donor_id",
                      "submitter_diagnosis_id", "diagnosis_mondo_code",
                      "diagnosis_ICD_code", "age_at_diagnosis", "is_cancer"],
    "treatment.tsv": ["study_id", "submitter_donor_id",
                      "submitter_treatment_id", "submitter_diagnosis_id",
                      "treatment_type", "treatment_intent"],
    "follow_up.tsv": ["study_id", "submitter_donor_id",
                      "submitter_diagnosis_id", "submitter_follow_up_id",
                      "days_to_follow_up", "disease_status"],
    "exposure.tsv": ["study_id", "submitter_donor_id", "smoking_status",
                     "alcohol_status"],
    "family.tsv": ["study_id", "submitter_family_id", "submitter_donor_id",
                   "family_type", "is_a_proband", "relationship_to_proband"],
    "family_history.tsv": ["study_id", "submitter_donor_id",
                           "submitter_family_condition_id",
                           "family_condition_name", "family_condition_age",
                           "family_condition_relationship"],
}

# Dictionary whitelist per sanitized entity name: the columns
# graft.etl.Pipeline.FixtureSchemas keeps (the raw headers above carry
# a few extra columns the prune must drop).
DICTIONARY_VERSION = "9.9"
DICTIONARY = {
    "donor": ["study_id", "submitter_donor_id", "dob", "gender",
              "ethnicity", "vital_status"],
    "study": ["study_id", "name", "domain", "access_limitations",
              "access_requirements"],
    "phenotype": HEADERS["phenotype.tsv"],
    "biospecimen": HEADERS["biospecimen.tsv"],
    "sampleregistration": HEADERS["sample_registration.tsv"],
    "file": HEADERS["file.tsv"],
    "diagnosis": HEADERS["diagnosis.tsv"],
    "treatment": HEADERS["treatment.tsv"],
    "followup": HEADERS["follow_up.tsv"],
    "exposure": HEADERS["exposure.tsv"],
    "family": HEADERS["family.tsv"],
    "familyhistory": HEADERS["family_history.tsv"],
}

DUO = [("DUO:0000005", "General Research Use"),
       ("DUO:0000006", "Health or Medical or Biomedical Research"),
       ("DUO:0000007", "Disease Specific Research"),
       ("DUO:0000019", "Publication Required"),
       ("DUO:0000021", "Ethics Approval Required"),
       ("DUO:0000026", "User Specific Restriction"),
       ("DUO:0000028", "Institution Specific Restriction"),
       ("DUO:0000029", "Return to Database or Resource")]

SYLLABLES = ["ab", "cor", "den", "fi", "gal", "hep", "in", "lum", "ma",
             "neu", "os", "par", "ren", "sta", "tor", "vas"]

FILE_KINDS = [  # data_category, data_type, experimental_strategy, format
    ("Genomics", "Aligned Reads", "WGS", "CRAM"),
    ("Genomics", "SNV", "WGS", "VCF"),
    ("Genomics", "Aligned Reads", "WXS", "CRAM"),
    ("Genomics", "SNV", "WXS", "VCF"),
    ("Transcriptomics", "Expression", "RNA-Seq", "TSV"),
    ("Transcriptomics", "Aligned Reads", "RNA-Seq", "BAM"),
    ("Imaging", "Slide Image", "Histology", "PNG"),
    ("Proteomics", "Protein Abundance", "Mass Spec", "TSV"),
]


def spread(rng, n, lo_hi):
    """n fan-out counts covering lo..hi evenly, shuffled by rng."""
    lo, hi = lo_hi
    counts = [lo + i % (hi - lo + 1) for i in range(n)]
    rng.shuffle(counts)
    return counts


def flags(rng, n, share):
    """n booleans with exactly round(n * share) True, shuffled."""
    k = round(n * share)
    out = [True] * k + [False] * (n - k)
    rng.shuffle(out)
    return out


def zipf_sizes(total, studies, s):
    """Largest-remainder apportionment of `total` donors over `studies`
    ranks with weight 1/rank**s, each study getting at least one."""
    weights = [1.0 / (r + 1) ** s for r in range(studies)]
    spare = total - studies
    quotas = [spare * w / sum(weights) for w in weights]
    sizes = [1 + int(q) for q in quotas]
    order = sorted(range(studies), key=lambda r: (int(quotas[r]) - quotas[r], r))
    for r in order[:total - sum(sizes)]:
        sizes[r] += 1
    return sizes


def word(rng, k=3):
    return "".join(rng.choice(SYLLABLES) for _ in range(k))


def ontology(rng, prefix, root_id, root_name, n_terms, depth):
    """A random tree of `n_terms` terms over `depth` levels below the
    root, each term carrying its full ancestor closure (closest
    first), in the reference's term-file layout. Returns the term rows
    and the ids of the non-root terms, deepest level first."""
    growth = 1.0
    while sum(growth ** d for d in range(1, depth + 1)) < n_terms - 1:
        growth += 0.001
    sizes = [max(1, int(growth ** d)) for d in range(1, depth + 1)]
    sizes[-1] = max(1, n_terms - 1 - sum(sizes[:-1]))

    def display(t):
        return "%s (%s)" % (t["name"], t["id"])

    root = {"id": root_id, "name": root_name, "parents": [],
            "ancestors": [], "is_leaf": False}
    levels = [[root]]
    serial = 0
    for size in sizes:
        level = []
        for _ in range(size):
            serial += 1
            parent = rng.choice(levels[-1])
            parent["is_leaf"] = False
            level.append({
                "id": "%s:%07d" % (prefix, 1000000 + serial),
                "name": "%s %s %d" % (word(rng), word(rng, 2), serial),
                "parents": [display(parent)],
                "ancestors": [{"id": parent["id"], "name": parent["name"],
                               "parents": parent["parents"]}]
                + parent["ancestors"],
                "is_leaf": True})
        levels.append(level)
    terms = [t for level in levels for t in level]
    codes = [t["id"] for level in reversed(levels[1:]) for t in level]
    return terms, codes


def icd_terms(rng, chapters, blocks, codes):
    """ICD-10-like terms: chapter root -> block range (`A00-A09`) ->
    code, ids suffixed `|chapter` as in the reference's ICD file."""
    terms, leaves = [], []
    for c in range(chapters):
        letter = "ABCDEFGHIJ"[c]
        chap = {"id": "", "name": "Chapter %d %s" % (c + 1, word(rng)),
                "parents": []}
        for b in range(blocks):
            lo, hi = b * 10, b * 10 + 9
            block = {"id": "%s%02d-%s%02d" % (letter, lo, letter, hi),
                     "name": "Block %s%d %s" % (letter, b, word(rng)),
                     "parents": []}
            terms.append({"id": "%s|%d" % (block["id"], c + 1),
                          "name": block["name"], "parents": [],
                          "ancestors": [chap], "is_leaf": False})
            for k in range(codes):
                code = "%s%02d" % (letter, lo + k)
                terms.append({
                    "id": "%s|%d" % (code, c + 1),
                    "name": "%s %s" % (word(rng), code),
                    "parents": ["%s (%s)" % (block["name"], block["id"])],
                    "ancestors": [block, chap], "is_leaf": True})
                leaves.append(code)
    return terms, leaves


def write_tsv(path, header, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")


def write_terms(path, terms):
    text = "".join(json.dumps(t, sort_keys=True) + "\n" for t in terms)
    with open(path, "wb") as f:
        with gzip.GzipFile(filename="", mode="wb", fileobj=f, mtime=0,
                           compresslevel=1) as gz:
            gz.write(text.encode("utf-8"))


def generate(shape_name, seed, out):
    """Write the corpus for (shape, seed) into `out`; return the
    manifest (also written to `out` + '.manifest.json')."""
    shape = SHAPES[shape_name]
    rng = random.Random("%s:%d" % (shape_name, seed))
    os.makedirs(out, exist_ok=True)

    hpo, hpo_codes = ontology(rng, "HP", "HP:0000118",
                              "Phenotypic abnormality",
                              shape["hpo_terms"], shape["hpo_depth"])
    mondo, mondo_codes = ontology(rng, "MONDO", "MONDO:0000001",
                                  "disease or disorder",
                                  shape["mondo_terms"], shape["mondo_depth"])
    icd, icd_codes = icd_terms(rng, shape["icd_chapters"],
                               shape["icd_blocks"], shape["icd_codes"])
    hpo_name = {t["id"]: t["name"] for t in hpo}
    # data codes favour the deepest level (the first half of the
    # deepest-first list), as clinical annotations do
    def code(codes):
        return codes[int(len(codes) * rng.random() ** 2)]

    n_studies = shape["studies"]
    study_ids = sorted({"ST%05X" % rng.randrange(16 ** 5)
                        for _ in range(n_studies * 4)})
    study_ids = rng.sample(study_ids, n_studies)
    sizes = zipf_sizes(shape["donors"], n_studies, shape["zipf"])

    rows = {name: [] for name in HEADERS}
    duo_limits = [d for d, _ in DUO[:3]]
    duo_reqs = [d for d, _ in DUO[3:]]
    for i, sid in enumerate(study_ids):
        reqs = rng.sample(duo_reqs, rng.randint(1, 3))
        rows["study.tsv"].append([
            sid, "Study %s %s" % (word(rng), sid),
            rng.choice(["General", "Cancer", "Rare disease",
                        "Neurodevelopment"]),
            rng.choice(duo_limits), ";".join(reqs), "note %d" % i])

    donors = [(sid, "DO%06d" % k) for k, sid in enumerate(
        sid for sid, size in zip(study_ids, sizes) for _ in range(size))]
    n = len(donors)
    bio_n = spread(rng, n, shape["biospecimens"])
    file_n = spread(rng, n, shape["files"])
    pheno_n = spread(rng, n, shape["phenotypes"])
    diag_n = spread(rng, n, shape["diagnoses"])
    fc_n = spread(rng, n, shape["family_conditions"])
    exposed = flags(rng, n, shape["exposure_share"])
    in_family = flags(rng, n, shape["family_share"])
    ctr = {"bio": 0, "sample": 0, "file": 0, "pheno": 0, "diag": 0,
           "treat": 0, "fu": 0, "fc": 0, "fam": 0}

    def next_id(kind, prefix):
        ctr[kind] += 1
        return "%s%07d" % (prefix, ctr[kind])

    diag_ids = []  # (study, donor, diagnosis id), for treatments/follow-ups
    family_members = []
    for d, (sid, did) in enumerate(donors):
        rows["donor.tsv"].append([
            sid, did,
            "%d/%d/%d" % (rng.randint(1, 28), rng.randint(1, 12),
                          rng.randint(1930, 2020)),
            str(rng.randint(1, 95)),
            rng.choice(["Female", "Male", "Other"]),
            rng.choice(["groupA", "groupB", "groupC", "groupD", ""]),
            rng.choice(["alive", "deceased", "unknown"]),
            rng.choice(["TRUE", "FALSE"])])
        bios = []
        for _ in range(bio_n[d]):
            bid = next_id("bio", "BS")
            bios.append(bid)
            rows["biospecimen.tsv"].append([
                sid, did, bid, rng.choice(["blood", "tumor", "saliva", "skin"]),
                rng.choice(["normal", "tumor"]), rng.choice(["TRUE", "FALSE"])])
        for bid in bios:
            lo, hi = shape["samples"]
            for _ in range(lo + int(bid[2:]) % (hi - lo + 1)):
                rows["sample_registration.tsv"].append([
                    sid, did, bid, next_id("sample", "SA"),
                    rng.choice(["DNA", "RNA", "protein"])])
        for _ in range(file_n[d]):
            cat, dtype, strat, fmt = rng.choice(FILE_KINDS)
            fid = next_id("file", "f")
            rows["file.tsv"].append([
                sid, did, rng.choice(bios), "%s.%s" % (fid, fmt.lower()),
                cat, dtype, strat, fmt, rng.choice(["controlled", "open"])])
        for _ in range(pheno_n[d]):
            hp = code(hpo_codes)
            rows["phenotype.tsv"].append([
                sid, did, next_id("pheno", "PH"), hp, hpo_name[hp],
                str(rng.randint(0, 90)),
                rng.choice(["TRUE", "FALSE", "yes", "no", "1", "0"])])
        for _ in range(diag_n[d]):
            dg = next_id("diag", "DG")
            diag_ids.append((sid, did, dg))
            rows["diagnosis.tsv"].append([
                sid, did, dg, code(mondo_codes), rng.choice(icd_codes),
                str(rng.randint(0, 90)), rng.choice(["TRUE", "FALSE"])])
        if exposed[d]:
            rows["exposure.tsv"].append([
                sid, did, rng.choice(["Never smoker", "Current smoker",
                                      "Former smoker"]),
                rng.choice(["None", "Weekly", "Daily"])])
        for _ in range(fc_n[d]):
            rows["family_history.tsv"].append([
                sid, did, next_id("fc", "FC"),
                rng.choice(["Diabetes", "Hypertension", "Asthma", "Cancer"]),
                str(rng.randint(20, 90)),
                rng.choice(["mother", "father", "sibling", "grandparent"])])
        if in_family[d]:
            family_members.append((sid, did))
    treat_n = spread(rng, len(diag_ids), shape["treatments"])
    fu_n = spread(rng, len(diag_ids), shape["follow_ups"])
    for k, (sid, did, dg) in enumerate(diag_ids):
        for _ in range(treat_n[k]):
            rows["treatment.tsv"].append([
                sid, did, next_id("treat", "TR"), dg,
                rng.choice(["Surgery", "Medication", "Radiation"]),
                rng.choice(["Curative", "Palliative"])])
        for _ in range(fu_n[k]):
            rows["follow_up.tsv"].append([
                sid, did, dg, next_id("fu", "FU"), str(rng.randint(1, 900)),
                rng.choice(["Stable", "Improved", "Worse"])])
    # families of up to three consecutive members of one study
    by_study = {}
    for sid, did in family_members:
        by_study.setdefault(sid, []).append((sid, did))
    groups = [members[k:k + 3] for members in by_study.values()
              for k in range(0, len(members), 3)]
    for group in groups:
        fam = next_id("fam", "FM")
        for j, (sid, did) in enumerate(group):
            rows["family.tsv"].append([
                sid, fam, did, ["Case", "Duo", "Trio"][len(group) - 1],
                "TRUE" if j == 0 else "FALSE",
                ["Is the proband", "Mother", "Father"][j]])

    for name, header in HEADERS.items():
        write_tsv(os.path.join(out, name), header, rows[name])
    write_terms(os.path.join(out, "terms.jsonl.gz"), hpo)
    write_terms(os.path.join(out, "mondo_terms.jsonl.gz"), mondo)
    write_terms(os.path.join(out, "icd_terms.jsonl.gz"), icd)
    write_terms(os.path.join(out, "duo_terms.jsonl.gz"), [
        {"id": d, "name": nm, "parents": [], "ancestors": [], "is_leaf": True}
        for d, nm in DUO])
    with open(os.path.join(out, "metadata.json"), "w") as f:
        json.dump([{"dictionaryVersion": DICTIONARY_VERSION,
                    "studyVersionId": "v%d" % seed,
                    "studyVersionDate": "2026/01/15"}], f, indent=2)
    with open(os.path.join(out, "dictionary.json"), "w") as f:
        json.dump([{"version": DICTIONARY_VERSION, "schemas": [
            {"name": k, "columns": v} for k, v in DICTIONARY.items()]}],
            f, indent=2)

    def line_bytes(r):
        return len(("\t".join(r) + "\n").encode("utf-8"))

    study_bytes = {s: 0 for s in study_ids}
    study_rows = {s: 0 for s in study_ids}
    for name in HEADERS:
        for r in rows[name]:
            study_bytes[r[0]] += line_bytes(r)
            study_rows[r[0]] += 1
    manifest = {
        "shape": shape_name, "seed": seed,
        "rows": {name: len(rows[name]) for name in HEADERS},
        "tsv_rows": sum(len(rows[name]) for name in HEADERS),
        "tsv_bytes": sum(os.path.getsize(os.path.join(out, name))
                         for name in HEADERS),
        "studies": study_ids,
        "donors_per_study": {s: z for s, z in zip(study_ids, sizes)},
        "files_per_study": {s: sum(1 for r in rows["file.tsv"] if r[0] == s)
                            for s in study_ids},
        "study_rows": study_rows,
        "study_tsv_bytes": study_bytes,
        "terms": {"hpo": len(hpo), "mondo": len(mondo), "icd": len(icd)},
    }
    with open(out.rstrip("/") + ".manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    check_counts(out, manifest)
    return manifest


def check_counts(out, manifest):
    """The written TSVs hold exactly the declared row counts."""
    for name, declared in manifest["rows"].items():
        with open(os.path.join(out, name), "rb") as f:
            lines = sum(1 for _ in f) - 1
        if lines != declared:
            raise AssertionError("%s: %d rows written, %d declared"
                                 % (name, lines, declared))


def digest_dir(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


def selftest(base):
    """One seed gives byte-identical files and the declared row
    counts; another seed gives other content of the same size. Works
    in a temporary directory under `base`."""
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="corpus-selftest-", dir=base)
    try:
        for shape in SHAPES:
            a, b, c = (os.path.join(tmp, "%s-%s" % (shape, k)) for k in "abc")
            ma = generate(shape, 11, a)
            mb = generate(shape, 11, b)
            mc = generate(shape, 12, c)
            assert digest_dir(a) == digest_dir(b), shape + ": not reproducible"
            assert ma == mb, shape + ": manifests differ"
            assert digest_dir(a) != digest_dir(c), shape + ": seed ignored"
            assert ma["rows"] == mc["rows"], shape + ": size depends on seed"
            print("corpus selftest %s ok: %d rows, %d TSV bytes"
                  % (shape, ma["tsv_rows"], ma["tsv_bytes"]))
    finally:
        shutil.rmtree(tmp)


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    g = sub.add_parser("generate")
    g.add_argument("--shape", choices=sorted(SHAPES), required=True)
    g.add_argument("--seed", type=int, required=True)
    g.add_argument("--out", required=True)
    t = sub.add_parser("selftest")
    t.add_argument("--dir", default=".", help="where to work (a temp dir)")
    a = p.parse_args(argv)
    if a.cmd == "generate":
        m = generate(a.shape, a.seed, a.out)
        print(json.dumps({k: m[k] for k in ("tsv_rows", "tsv_bytes", "rows")}))
    else:
        selftest(a.dir)


if __name__ == "__main__":
    main(sys.argv[1:])
