"""Seeded input generators for the benchmark.

Two families of inputs, both written under a directory the caller owns:

* ``star(dir, sf, seed)`` -- the ten tables the declared queries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), one parquet file each, with the column names, types and
  value domains the queries expect.  Row counts scale with ``sf``
  (lineitem = 6,000,000 x sf).
* ``etl(dir, seed, scale)`` -- the four reference ETL jobs' inputs: a
  daily-cases CSV, a wide clinical CSV, CORD-19 nested JSON papers and
  PNGs in four class directories (one off-size image and one corrupt
  file ride along and must be filtered out by the job).  Returns the
  row counts each job's named outputs must have, derived from what was
  generated.

Everything is a pure function of the arguments: the same seed writes
byte-identical files.
"""
import datetime as dt
import hashlib
import json
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def star(dir_, sf, seed):
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = max(int(15000 * sf), 1)
    i32, i64 = pa.int32(), pa.int64()

    _write(dir_, "region", {"r_regionkey": pa.array(range(5), i32),
                            "r_name": REGIONS})
    _write(dir_, "nation", {"n_nationkey": pa.array(range(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(dir_, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(dir_, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part)
    _write(dir_, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    day = 86400 * 10**6
    _write(dir_, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * day)})
    # arrivals of a Poisson process over 30 days are sorted uniforms
    _write(dir_, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * day, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")})
    _documents(dir_, rng, max(500, int(50000 * sf)))
    _embeddings(dir_, rng, max(500, int(20000 * sf)))


VOCAB = ("a the row column table key value part hash join merge sort group agg filter scan "
         "query order line customer data batch stream window vector spark big small fast "
         "slow").split()
LANGS = ["en", "zh", "de", "fr", "es"]


def _documents(dir_, rng, n):
    """Short texts over a 30-word vocabulary; 5% are near-copies of an earlier one."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))))
    ids = np.arange(n)
    _write(dir_, "documents", {
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=[0.42, 0.145, 0.145, 0.145, 0.145])],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(dir_, rng, n, dim=64, k=10):
    """Unit vectors around k weak cluster directions; the label is the cluster."""
    centers = rng.normal(size=(k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    v = rng.normal(size=(n, dim)) + 1.2 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(dir_, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


# ---------------------------------------------------------------- ETL inputs

EUROPE = ["Albania", "Austria", "Belgium", "Croatia", "France", "Germany", "Italy",
          "Montenegro", "Norway", "Serbia", "Slovenia", "Spain"]
OTHER = ["Mainland China", "Brazil", "India", "Japan", "Canada", "Chile", "Egypt", "Peru"]
FORECAST = ["Serbia", "Croatia", "Slovenia", "Montenegro"]
CLASSES = ["Normal", "COVID", "Lung_Opacity", "Viral_Pneumonia"]
FEATURES = ["Hemoglobin", "Hematocrit", "Platelets", "Eosinophils", "Red blood Cells",
            "Lymphocytes", "Leukocytes", "Basophils", "Monocytes"]
ADMIT = ["Patient addmited to regular ward (1=yes, 0=no)",
         "Patient addmited to semi-intensive unit (1=yes, 0=no)",
         "Patient addmited to intensive care unit (1=yes, 0=no)"]
SPARSE = ["Mycoplasma pneumoniae", "Urine - Sugar", "Prothrombin time (PT), Activity",
          "D-Dimer", "Fio2 (venous blood gas analysis)", "Urine - Nitrite", "Vitamin B12"]
MARKERS = [("Influenza A", ["detected", "not_detected"]),
           ("Respiratory Syncytial Virus", ["detected", "not_detected"]),
           ("Urine - Esterase", ["present", "absent"]),
           ("Strepto A", ["positive", "negative"])]
WORDS = ("virus infection patient clinical study vaccine protein cell immune response "
         "good bad severe mild effective poor novel risk outbreak transmission model "
         "data analysis treatment symptom hospital").split()


def _csv_field(v):
    s = str(v)
    return f'"{s}"' if ("," in s or '"' in s) else s


def _cases(path, rng, n_days):
    """Daily rows per (country, province); a few provinces skip days."""
    start = dt.date(2020, 1, 22)
    rows = []
    for country in EUROPE + OTHER:
        provinces = ["Hubei", "Beijing"] if country == "Mainland China" else [""]
        for prov in provinces:
            conf = deaths = rec = 0
            for d in range(n_days):
                if prov == "" and rng.random() < 0.03:
                    continue  # a missing day, as in the real feed
                conf += int(rng.integers(0, 400))
                deaths += int(rng.integers(0, 10))
                rec += int(rng.integers(0, 200))
                day = (start + dt.timedelta(days=d)).isoformat()
                rows.append((day, prov, country, f"{day}T23:59:00",
                             conf, deaths, min(rec, conf)))
    with open(path, "w") as f:
        f.write("ObservationDate,Province/State,Country/Region,Last Update,"
                "Confirmed,Deaths,Recovered\n")
        for r in rows:
            f.write(",".join(_csv_field(v) for v in r) + "\n")
    return rows


def _cases_expect(rows):
    """Row counts of the 14 cases-time outputs, from the generated rows."""
    def country(c):
        return "China" if c == "Mainland China" else c
    by_country = {}
    for day, _, c, _, conf, _, _ in rows:
        by_country.setdefault(country(c), set()).add(day)
    fc_days = set().union(*(by_country[c] for c in FORECAST))
    # test split: pmod(conv(substring(md5(ds), 1, 15), 16, 10), 5) == 0
    test = [d for d in fc_days if int(hashlib.md5(d.encode()).hexdigest()[:15], 16) % 5 == 0]
    fc_triples = {(r[0], r[4], country(r[2])) for r in rows if country(r[2]) in FORECAST}
    n_countries = len(by_country)
    return {
        "confirmed_cases_and_deaths_globally": len({r[0] for r in rows}),
        "confirmed_cases_serbia": len(by_country["Serbia"]),
        "confirmed_cases_norway": len(by_country["Norway"]),
        "confirmed_cases_italy": len(by_country["Italy"]),
        "confirmed_cases_china": len(by_country["China"]),
        "confirmed_cases_europe": sum(1 for c in by_country if c in EUROPE),
        "confirmed_cases_comparison": len({r[0] for r in rows}),
        "confirmed_cases_mortality_rates": min(10, n_countries),
        "confirmed_cases_recovery_rates": min(10, n_countries),
        "time_series": len(fc_days),
        "time_series_by_countries": len(fc_triples),
        "time_series_test_data": len(test),
        "future_predictions": 30 * len(FORECAST),
        "future_forecasting": sum(len(by_country[c]) + 90 for c in FORECAST),
    }


def _clinical(path, rng, n):
    header = (["Patient ID", "Patient age quantile", "SARS-Cov-2 exam result"] + FEATURES
              + ADMIT + SPARSE + [m for m, _ in MARKERS])
    n_pos = 0
    with open(path, "w") as f:
        f.write(",".join(_csv_field(h) for h in header) + "\n")
        for i in range(n):
            pos = rng.random() < 0.3
            n_pos += pos
            feats = ["nan" if rng.random() < 0.25 else f"{rng.normal(0.3 if pos else 0.0, 1.0):.6f}"
                     for _ in FEATURES]
            admit = [str(int(rng.random() < 0.1)) for _ in ADMIT]
            sparse = ["nan" if rng.random() < 0.9 else "" for _ in SPARSE]
            marks = ["" if rng.random() < 0.2 else vals[int(rng.integers(0, 2))]
                     for _, vals in MARKERS]
            row = ([f"p{i}", str(int(rng.integers(0, 20))), "positive" if pos else "negative"]
                   + feats + admit + sparse + marks)
            f.write(",".join(_csv_field(v) for v in row) + "\n")
    return n_pos


def _sentence(rng, n):
    return " ".join(WORDS[int(k)] for k in rng.integers(0, len(WORDS), n)) + "."


def _papers(dir_, rng, n):
    os.makedirs(dir_, exist_ok=True)
    n_authors = 0
    for i in range(n):
        authors = []
        for a in range(int(rng.integers(1, 5))):
            authors.append({
                "first": f"F{i}_{a}", "middle": ["M"] if a % 2 else [], "last": f"L{i}_{a}",
                "suffix": "",
                "affiliation": {"laboratory": "Lab", "institution": f"Inst{a}",
                                "location": {"addrLine": "", "country": "Serbia", "postBox": "",
                                             "postCode": "", "region": "", "settlement": "Nis"}},
                "email": f"a{a}@x.org" if a % 2 == 0 else ""})
        n_authors += len(authors)
        para = lambda k: {"text": _sentence(rng, k), "cite_spans": [], "ref_spans": [],
                          "eq_spans": [], "section": "Abstract"}
        doc = {"paper_id": f"paper{i:05d}",
               "metadata": {"title": _sentence(rng, 6), "authors": authors},
               "abstract": [para(int(rng.integers(8, 30))) for _ in range(int(rng.integers(1, 4)))],
               "body_text": [para(int(rng.integers(20, 60))) for _ in range(3)],
               "back_matter": [],
               "bib_entries": {"BIBREF0": {"ref_id": "b0", "title": "T", "authors": [],
                                           "year": 2020, "venue": "V", "volume": "1",
                                           "issn": "", "pages": "1-2",
                                           "other_ids": {"DOI": []}}},
               "ref_entries": {"FIGREF0": {"text": "fig", "latex": None, "type": "figure"}}}
        with open(os.path.join(dir_, f"paper{i:05d}.json"), "w") as f:
            json.dump(doc, f, indent=1)  # multiLine JSON, one document per file
    return n_authors


def _png(path, pixels):
    """Minimal RGB PNG encoder (filter 0 on every scanline)."""
    h, w, _ = pixels.shape
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))
    with open(path, "wb") as f:
        f.write(b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(raw, 1)) + chunk(b"IEND", b""))


def _images(dir_, rng, per_class):
    for k, cls in enumerate(CLASSES):
        d = os.path.join(dir_, cls)
        os.makedirs(d, exist_ok=True)
        for i in range(per_class):
            base = np.full((299, 299, 3), 40 + 50 * k, np.int16)
            noise = rng.integers(-30, 31, (299, 299, 1), dtype=np.int16)
            _png(os.path.join(d, f"img_{i:03d}.png"),
                 np.clip(base + noise, 0, 255).astype(np.uint8).repeat(1, axis=2))
    _png(os.path.join(dir_, CLASSES[0], "offsize.png"), np.zeros((100, 100, 3), np.uint8))
    with open(os.path.join(dir_, CLASSES[0], "corrupt.png"), "wb") as f:
        f.write(b"not a png")


def etl(dir_, seed, scale=1):
    """Writes the four jobs' inputs; returns {job: {output: rows}}."""
    rng = np.random.default_rng(seed)
    os.makedirs(dir_, exist_ok=True)
    cases = _cases(os.path.join(dir_, "cases_time.csv"), rng, 60 * scale)
    n_clin = 400 * scale
    _clinical_positives = _clinical(os.path.join(dir_, "clinical.csv"), rng, n_clin)
    n_papers = 40 * scale
    n_authors = _papers(os.path.join(dir_, "cord19", "pdf_json"), rng, n_papers)
    per_class = 12 * scale
    _images(os.path.join(dir_, "radiography"), rng, per_class)
    n_img = per_class * len(CLASSES)
    n_pos = _clinical_positives
    expect = {
        "cases_time": _cases_expect(cases),
        "clinical": {"hemoglobin_values": n_clin, "red_blood_cells_values": n_clin,
                     "aggregate_age_result": 2, "age_relations": n_clin,
                     "care_relations": n_pos, "predictions_missing_values": 1,
                     "predictions_value_distribution": n_clin,
                     "predictions_test_result_distribution": 1, "predictions": 4},
        "research": {"paper_authors": n_authors, "paper_abstracts": n_papers},
        "radiography": {"percentage_of_samples": len(CLASSES), "take_samples": len(CLASSES),
                        "colour_distribution": n_img, "ml_classification": 1,
                        "dl_inference": min(100, n_img)},
    }
    return expect
