"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same bytes. The program under test only ever sees what these functions
write to disk (page files, config, parquet tables); the expectations they
return stay on the benchmark side.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- etl_pages

AI_COLUMN = "ai_determined_value"
CSV_COLUMNS = [
    "nct_id", "brief_title", "official_title", "overall_status",
    "minimum_age", "maximum_age", "study_type", "start_date", "gender",
    "brief_summary", "detailed_description", "criteria", "start_year",
    AI_COLUMN]

# Filler never contains a classifier trigger ("pregnan", "postpartum",
# "negative", the "exclusion criteria" marker), so the planted phrase
# alone decides the label.
FILLER = (
    "adults aged eighteen and older with confirmed diagnosis stable therapy "
    "for three months adequate renal hepatic and marrow function signed "
    "informed consent able to attend visits prior treatment with study drug "
    "active infection uncontrolled hypertension known allergy recent surgery "
    "enrolled in another trial body mass index within range").split()
TITLE_WORDS = (
    "iron vitamin sleep cohort insulin asthma migraine registry outcomes "
    "dosing safety efficacy screening exercise nutrition anemia").split()

# (inclusion phrase, exclusion phrase) per RuleClassifier category; a
# category may have several plants, each must fire exactly its label.
PLANTS = {
    "NOT MENTIONED": [("", "")],
    "PREGNANT OR POSTPARTUM": [("women who are pregnant or postpartum", ""),
                               ("Postpartum or Pregnant participants", "")],
    "FERTILITY": [("women trying to get pregnant within a year", "")],
    "POSTPARTUM": [("mothers within six weeks Postpartum", "")],
    "EXCLUDE_PREGNANCY": [("", "women who are pregnant or breastfeeding"),
                          ("negative serum pregnancy test at screening", "")],
    "ONLY_PREGNANCY": [("participants must be pregnant at enrollment", "")],
    "INCLUDE_PREGNANCY": [("pregnancy history will be recorded", "")],
}
CATEGORIES = sorted(PLANTS)
COUNTRIES = ["Canada", "United States", "France", "Germany", "Japan", "Brazil"]
STATUSES = ["RECRUITING", "COMPLETED", "ACTIVE_NOT_RECRUITING", "TERMINATED"]
STUDY_TYPES = ["INTERVENTIONAL", "INTERVENTIONAL", "OBSERVATIONAL", "EXPANDED_ACCESS"]

# Missing-leaf rates (share of studies whose leaf is absent -> 'N/A').
MISSING = {"brief_title": 0.03, "official_title": 0.10, "overall_status": 0.05,
           "start_date": 0.08, "gender": 0.10, "description_module": 0.15,
           "detailed_description": 0.20, "criteria": 0.05}


def _words(rng, vocab, lo, hi):
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), rng.integers(lo, hi)))


def _study(rng, nct):
    """One CT.gov-v2-shaped study plus the flattened row the reference
    would emit for it (etl.py:188-229)."""
    miss = {k: rng.random() < p for k, p in MISSING.items()}
    ps, row = {}, {"nct_id": nct}
    ident = {"nctId": nct}
    title = _words(rng, TITLE_WORDS, 2, 6).capitalize()
    if not miss["brief_title"]:
        ident["briefTitle"] = title
    if not miss["official_title"]:
        ident["officialTitle"] = "Official " + title.lower() + ", phase study"
    row["brief_title"] = ident.get("briefTitle", "N/A")
    row["official_title"] = ident.get("officialTitle", "N/A")
    ps["identificationModule"] = ident

    status = {}
    if not miss["overall_status"]:
        status["overallStatus"] = STATUSES[rng.integers(len(STATUSES))]
    date = "N/A"
    if not miss["start_date"]:
        y, m, d = int(rng.integers(2005, 2025)), int(rng.integers(1, 13)), int(rng.integers(1, 29))
        shape = rng.random()
        date = f"{y}" if shape < 0.1 else f"{y}-{m:02d}" if shape < 0.3 else f"{y}-{m:02d}-{d:02d}"
        status["startDateStruct"] = {"date": date}
    ps["statusModule"] = status
    row["overall_status"] = status.get("overallStatus", "N/A")
    row["start_date"] = date
    row["start_year"] = date.split("-")[0] if date != "N/A" and "-" in date else "N/A"

    study_type = STUDY_TYPES[rng.integers(len(STUDY_TYPES))]
    ps["designModule"] = {"studyType": study_type, "phases": ["PHASE2"]}
    row["study_type"] = study_type

    elig = {"minimumAge": "18 Years"}
    if not miss["gender"]:
        elig["sex"] = ["FEMALE", "MALE", "ALL"][rng.integers(3)]
    label = "NOT MENTIONED"
    if not miss["criteria"]:
        label = CATEGORIES[rng.integers(len(CATEGORIES))]
        plants = PLANTS[label]
        incl, excl = plants[rng.integers(len(plants))]
        elig["eligibilityCriteria"] = (
            f"Inclusion Criteria: {_words(rng, FILLER, 4, 16)} {incl}, "
            f"{_words(rng, FILLER, 2, 10)}. Exclusion Criteria: "
            f"{_words(rng, FILLER, 3, 12)} {excl}.")
    ps["eligibilityModule"] = elig
    row["gender"] = elig.get("sex", "N/A")
    row["criteria"] = elig.get("eligibilityCriteria", "N/A")

    if not miss["description_module"]:
        desc = {"briefSummary": "A study of " + _words(rng, TITLE_WORDS, 3, 9)}
        if not miss["detailed_description"]:
            desc["detailedDescription"] = _words(rng, FILLER, 10, 40).capitalize()
        ps["descriptionModule"] = desc
    desc = ps.get("descriptionModule", {})
    row["brief_summary"] = desc.get("briefSummary", "N/A")
    row["detailed_description"] = desc.get("detailedDescription", "N/A")

    countries = [COUNTRIES[i] for i in rng.integers(0, len(COUNTRIES), rng.integers(0, 4))]
    if countries:
        ps["contactsLocationsModule"] = {"locations": [
            {"facility": f"Site {i}", "country": c} for i, c in enumerate(countries)]}
    row["minimum_age"] = row["maximum_age"] = ""
    row[AI_COLUMN] = label
    kept = study_type == "INTERVENTIONAL" and "Canada" in countries
    return {"protocolSection": ps}, row, kept


def etl_pages(seed, pages_dir, pages, page_size):
    """Write the `nextPageToken` chain page_1.json .. page_<pages>.json
    (the last page carries no token). Returns the expected CSV rows
    (sorted by nct_id: the gated pipeline's order when every row is
    processed) and counters."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(pages_dir, exist_ok=True)
    ids = rng.choice(90_000_000, size=pages * page_size, replace=False) + 10_000_000
    expected = []
    for p in range(1, pages + 1):
        studies = []
        for nct in ids[(p - 1) * page_size: p * page_size]:
            study, row, kept = _study(rng, f"NCT{nct:08d}")
            studies.append(study)
            if kept:
                expected.append(row)
        doc = {"studies": studies}
        if p < pages:
            doc["nextPageToken"] = f"page_{p + 1}.json"
        with open(os.path.join(pages_dir, f"page_{p}.json"), "w") as f:
            json.dump(doc, f)
    expected.sort(key=lambda r: r["nct_id"])
    return {
        "columns": CSV_COLUMNS,
        "rows": [[r[c] for c in CSV_COLUMNS] for r in expected],
        "processed": len(expected),
        "bypassed": 0,
        "na_fills": {c: sum(r[c] == "N/A" for r in expected) for c in CSV_COLUMNS},
        "labels": {c: sum(r[AI_COLUMN] == c for r in expected) for c in CATEGORIES},
    }


def etl_config(repo_config, out_path):
    """The repo's fixture config with the full-run gate: same Essie terms,
    `max_rows: null`, no tuning-set restriction, so every kept row is
    classified."""
    import yaml
    with open(repo_config) as f:
        cfg = yaml.safe_load(f)
    cfg["ai_processing"]["max_rows"] = None
    cfg["ai_processing"]["debug_only_tuning_trials"] = False
    cfg["ai_processing"]["column_name"] = AI_COLUMN
    with open(out_path, "w") as f:
        json.dump(cfg, f)


# ---------------------------------------------------- query-workload tables

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "fr", "de", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed, out_dir, sf, n_docs, n_vecs):
    """TPC-H-ish star schema + events + documents + embeddings, in the
    shape of the repo's fixture tables (FIXTURES.md section A), one
    parquet file and one row group per table."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_users = max(10, n_ev // 66)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=1 << 30)

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2400, n_ord) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2500, n_li) * DAY_US)})
    gaps = rng.exponential(30 * DAY_US / n_ev, n_ev).astype(np.int64)
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_2024_US + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(10, 100, n_docs)
    text = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n)) for n in lens]
    # ~5% near-duplicates of an earlier document: a copy with one token
    # appended or replaced, which the dedup and resemblance lines find
    for j in np.flatnonzero(rng.random(n_docs) < 0.05):
        if j == 0:
            continue
        toks = text[rng.integers(0, j)].split()
        if rng.random() < 0.5:
            toks.append("dup")
        else:
            toks[rng.integers(0, len(toks))] = VOCAB[rng.integers(0, len(VOCAB))]
        text[j] = " ".join(toks)
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": [LANGS[i] if i < 5 else "en" for i in rng.integers(0, 8, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.standard_normal((10, 64)) * 0.15
    vecs = centers[labels] + rng.standard_normal((n_vecs, 64)) / 8
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
