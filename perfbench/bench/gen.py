"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
arguments write byte-identical Parquet files.

* ``lake``: the star-schema lake (``region nation customer supplier part
  orders lineitem events documents embeddings``) that ``SparkEntry.queries``
  read, with the column names, types and value distributions of the
  project's reference fixtures at the matching scale factor.
* ``warehouse``: a schema-builder project dir (the YAML configs) plus two raw
  schemas of Parquet tables whose names, columns and configs carry the whole
  rule surface of the schema builder.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
PART_ADJ = "red small hot old large blue cold new".split()
PART_NOUN = "plate widget ring rod gizmo bolt gear anvil".split()
PART_TYPES = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD FURNITURE BUILDING".split()
PRIORITIES = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT-SPECIFIED 5-LOW".replace(
    "4-NOT-SPECIFIED", "4-NOT SPECIFIED").split()
EVENT_TYPES = "click signup error view purchase".split()
EPOCH = dt.datetime(1970, 1, 1)


def _write(path, columns):
    pq.write_table(pa.table(columns), path)


def _micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def lake(out_dir, seed, sf):
    """Write the ten lake tables for scale factor ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20_000 * sf)
    n_users = max(15, int(15_000 * sf))
    j = os.path.join

    _write(j(out_dir, "region.parquet"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(j(out_dir, "nation.parquet"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(j(out_dir, "customer.parquet"), {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(j(out_dir, "supplier.parquet"), {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(j(out_dir, "part.parquet"), {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})

    day = 86_400_000_000
    o_lo = _micros(dt.datetime(1995, 1, 1))
    o_days = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    _write(j(out_dir, "orders.parquet"), {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(o_lo + rng.integers(0, o_days + 1, n_ord) * day),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    l_ord = np.sort(rng.integers(0, n_ord, n_line))
    starts = np.r_[0, np.flatnonzero(np.diff(l_ord)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n_line]))
    qty = rng.integers(1, 51, n_line).astype(float)
    l_lo = _micros(dt.datetime(1995, 1, 2))
    l_days = (dt.datetime(2001, 11, 4) - dt.datetime(1995, 1, 2)).days
    _write(j(out_dir, "lineitem.parquet"), {
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_line) - run_start + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(l_lo + rng.integers(0, l_days + 1, n_line) * day)})

    e_lo = _micros(dt.datetime(2024, 1, 1))
    e_ts = np.sort(rng.integers(0, 30 * day, n_evt)) + e_lo
    _write(j(out_dir, "events.parquet"), {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(e_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(70.0, n_evt) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)]})

    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n))
             for n in rng.integers(10, 100, n_docs)]
    # plant near-duplicates, as the reference fixtures do: 6% of documents
    # copy an earlier one with one or two words replaced
    for i in range(1, n_docs):
        if rng.random() < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            for pos in rng.integers(0, len(words), int(rng.integers(1, 3))):
                words[pos] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[i] = " ".join(words)
    _write(j(out_dir, "documents.parquet"), {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    vecs = rng.normal(0.0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(j(out_dir, "embeddings.parquet"), {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


# ------------------------------------------------------------------ warehouse

RESERVED = ["ORDER", "TABLE", "SELECT", "GROUP", "START", "VALUES"]
COL_WORDS = ("ID NAME EMAIL CREATED UPDATED STATUS AMOUNT COUNT CODE TYPE "
             "REGION SCORE LABEL NOTE FLAG LEVEL RANK TOTAL VALUE KEY").split()


def warehouse(out_dir, seed, tables_per_schema):
    """Write a schema-builder project under ``out_dir``.

    Layout: ``project/`` holds the YAML configs (plus ``schema_dirs.yml``
    mapping each raw schema to its directory) and ``raw/<SCHEMA>/`` holds one
    ``<TABLE>.parquet`` per table. Returns a JSON-able manifest naming what
    each rule must do, which the harness checks the build against.
    """
    rng = np.random.default_rng([seed, 2])
    project = os.path.join(out_dir, "project")
    os.makedirs(project, exist_ok=True)
    manifest = {"project": project, "schemas": {}, "banned": "SSN_BANNED",
                "soft_delete": ["DELETED_AT", "IS NULL"], "prefix": "PFX",
                "redactions": {}, "excluded": [], "unmanaged": [],
                "keyword_tables": []}
    schemas = [("RAW_LMS", "PROD.LMS"), ("RAW_CRM", "PROD.CRM")]
    schema_dirs = {}
    for si, (schema, _) in enumerate(schemas):
        sdir = os.path.join(out_dir, "raw", schema)
        os.makedirs(sdir, exist_ok=True)
        schema_dirs[f"RAW.{schema}"] = sdir
        names = []
        for t in range(tables_per_schema):
            if t < 2:  # reserved-keyword table names force aliasing/quoting
                name = RESERVED[(si * 2 + t) % len(RESERVED)]
                manifest["keyword_tables"].append(f"{schema}.{name}")
            elif t < 4:  # matched by the unmanaged-table regex below
                name = f"TMP_STAGE_{t}"
            else:
                name = f"T{t:03d}_{COL_WORDS[t % len(COL_WORDS)]}"
            names.append(name)
        tables = {}
        for ti, name in enumerate(names):
            n_cols = int(rng.integers(4, 45))
            n_rows = int(rng.integers(12, 61))
            cols = {"ID": pa.array(np.arange(n_rows), pa.int64())}
            for c in range(1, n_cols):
                word = COL_WORDS[int(rng.integers(0, len(COL_WORDS)))]
                cname = f"{word}_{c}"
                if c % 3 == 0:
                    cols[cname] = [f"{word.lower()}-{int(v)}"
                                   for v in rng.integers(0, 1000, n_rows)]
                elif c % 3 == 1:
                    cols[cname] = pa.array(rng.integers(0, 10_000, n_rows), pa.int64())
                else:
                    cols[cname] = np.round(rng.uniform(0, 100, n_rows), 3)
            if ti % 3 == 0:  # PII column, redacted in SAFE views
                cols["EMAIL"] = [f"user{int(v)}@example.com"
                                 for v in rng.integers(0, 10**6, n_rows)]
            if ti % 2 == 0:  # soft-delete column: some rows deleted
                deleted = rng.random(n_rows) < 0.25
                cols["DELETED_AT"] = _ts(
                    [_micros(dt.datetime(2024, 1, 1)) if d else None for d in deleted])
            if ti % 5 == 1:  # banned everywhere
                cols["SSN_BANNED"] = [f"{int(v):09d}" for v in rng.integers(0, 10**9, n_rows)]
            _write(os.path.join(sdir, f"{name}.parquet"), cols)
            tables[name] = list(cols)
        manifest["schemas"][schema] = tables

    lms, crm = schemas[0][0], schemas[1][0]
    lms_tables = list(manifest["schemas"][lms])
    excluded = lms_tables[4:6]
    manifest["excluded"] = [f"{lms}.{t}" for t in excluded]
    manifest["unmanaged"] = [f"{s}.TMP_STAGE_{i}" for s, _ in schemas for i in (2, 3)]
    schema_config = {
        "PROD.LMS": {f"RAW.{lms}": {"EXCLUDE": excluded,
                                    "SOFT_DELETE": {"DELETED_AT": "IS NULL"}}},
        "PROD.CRM": {f"RAW.{crm}": {"PREFIX": "PFX",
                                    "SOFT_DELETE": {"DELETED_AT": "IS NULL"}}},
    }
    # SAFE-view redactions: keyed APP.ALIAS, values are opaque SQL literals
    redactions = {}
    for schema, app, prefix in ((lms, "LMS", None), (crm, "CRM", "PFX")):
        for t, cols in manifest["schemas"][schema].items():
            if "EMAIL" in cols:
                alias = f"{prefix}_{t}" if prefix else (f"_{t}" if t in RESERVED else t)
                redactions[f"{app}.{alias}"] = {"EMAIL": "'<redacted>'"}
    manifest["redactions"] = redactions
    docs = {
        "schema_config.yml": schema_config,
        "redactions.yml": redactions,
        "banned_column_names.yml": ["SSN_BANNED"],
        "unmanaged_tables.yml": ["LMS.TMP_STAGE_[23]", "CRM.PFX_TMP_STAGE_.*"],
        "schema_dirs.yml": schema_dirs,
    }
    for fname, doc in docs.items():
        # JSON is valid YAML 1.2 flow style and the engine's YAML reader
        # accepts it; insertion order is kept
        with open(os.path.join(project, fname), "w") as f:
            json.dump(doc, f, indent=1)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
