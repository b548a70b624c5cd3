"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (seed, size): the same seed writes
byte-identical files. Two input families:

* ``fixture`` -- the star schema + events + documents + embeddings tables
  that ``graft.SparkEntry.queries`` read, with the column types
  ``graft.ops.Sources.declaredTables`` declares and the value domains of
  the reference fixture (uniform keys, exponential event values, a 30-word
  document vocabulary with ~5% near-duplicate documents, unit-norm 64-d
  embeddings).
* ``users`` -- the ``(name, age, email)`` drop the ``Pipelines`` eras load,
  with planted defects in counts the generator returns, so the ingest
  workload can check loaded, rejected-by-reason, deduplicated and streamed
  row counts exactly.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Row counts at scale factor 1; a fixture at sf has round(base * sf) rows.
FIXTURE_BASE_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
COLORS = "blue cold hot large red small green".split()
THINGS = "anvil bolt gear gizmo plate ring rod widget".split()
DAY_US = 86_400_000_000


def _rng(seed, stream):
    # independent, reproducible stream per table
    return np.random.default_rng([seed, stream])


def _days_us(rng, n, first, last):
    """n dates (as µs since epoch) uniform over [first, last]."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * DAY_US


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def fixture_tables(seed, sf, rows=None):
    """Return {name: pyarrow.Table} for the fixture at scale factor sf;
    `rows` overrides the row count of single tables."""
    n = {t: max(1, round(b * sf)) for t, b in FIXTURE_BASE_ROWS.items()}
    n.update(rows or {})
    ts_us = pa.timestamp("us")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[r.integers(0, 5, nc)]})

    r = _rng(seed, 2)
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2)})

    r = _rng(seed, 3)
    npart = n["part"]
    names = np.array([f"{c} {t}" for c in COLORS for t in THINGS])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": names[r.integers(0, len(names), npart)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            r.integers(0, 25, npart)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[r.integers(0, 6, npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)})

    r = _rng(seed, 4)
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(_days_us(r, no, "1995-01-01", "2001-08-01"), ts_us),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, no)]})

    r = _rng(seed, 5)
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, nl), 2),
        "l_discount": np.round(r.integers(0, 21, nl) // 2 / 100.0, 2),
        "l_tax": np.round(r.integers(0, 17, nl) // 2 / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days_us(r, nl, "1995-01-02", "2001-11-04"), ts_us)})

    r = _rng(seed, 6)
    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = start + np.sort(r.integers(0, 30 * DAY_US, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, ts_us),
        "user_id": pa.array(r.integers(0, max(1, ne // 67), ne), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[r.integers(0, 5, ne)],
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})

    r = _rng(seed, 7)
    nd = n["documents"]
    words = np.array(WORDS)
    lengths = r.integers(10, 101, nd)
    texts = [" ".join(words[r.integers(0, len(words), k)]) for k in lengths]
    # ~5% near-duplicates of an earlier document (a word swapped for
    # "dup", or "dup" appended) and a few exact copies
    for i in r.choice(np.arange(1, nd), size=nd // 20, replace=False):
        src = texts[int(r.integers(0, i))].split()
        if r.random() < 0.5:
            src[int(r.integers(0, len(src)))] = "dup"
        else:
            src.append("dup")
        texts[i] = " ".join(src)
    for i in r.choice(np.arange(1, nd), size=max(1, nd // 600), replace=False):
        texts[i] = texts[int(r.integers(0, i))]
    langs = np.array(["en", "de", "es", "fr", "zh"])[
        r.choice(5, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = _rng(seed, 8)
    nv = n["embeddings"]
    v = r.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nv), pa.int32())})
    return out


def write_fixture(seed, sf, out_dir, rows=None):
    """Write the fixture as <out_dir>/<table>.parquet; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in fixture_tables(seed, sf, rows).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# Planted defects per 1,000 users rows, one defect per row; the first
# failing check (name, then age, then email) names the reject reason.
DEFECTS_PER_1000 = {
    "blank_name": 10, "null_name": 5, "bad_age": 8, "out_of_range_age": 8,
    "null_age": 6, "bad_email": 12, "duplicate": 15,
}
REASON = {"blank_name": "invalid_name", "null_name": "invalid_name",
          "bad_age": "invalid_age", "out_of_range_age": "invalid_age",
          "null_age": "invalid_age", "bad_email": "invalid_email"}


def users_files(seed, files, rows_per_file):
    """Return ([pyarrow.Table per file], expected counts)."""
    r = _rng(seed, 20)
    n = files * rows_per_file
    ids = np.arange(n)
    surnames = np.array("smith jones garcia chen kumar novak silva ito".split())
    name = np.char.add(np.char.add("user", ids.astype(str)), " ")
    name = np.char.add(name, surnames[r.integers(0, len(surnames), n)]).astype(object)
    age = r.integers(0, 100, n).astype(str).astype(object)
    email = np.char.add(np.char.add("user", ids.astype(str)),
                        "@example.com").astype(object)
    kinds = []
    for k, per in DEFECTS_PER_1000.items():
        kinds += [k] * (n * per // 1000)
    slots = r.permutation(n)[:len(kinds)]
    taken = np.zeros(n, bool)
    taken[slots] = True
    clean = np.flatnonzero(~taken)
    bad_ages = np.array(["abc", "4x2", "ten", "1.5.2"], dtype=object)
    counts = {k: 0 for k in DEFECTS_PER_1000}
    for k, i in zip(kinds, slots):
        counts[k] += 1
        if k == "blank_name":
            name[i] = "   "
        elif k == "null_name":
            name[i] = None
        elif k == "bad_age":
            age[i] = bad_ages[i % len(bad_ages)]
        elif k == "out_of_range_age":
            age[i] = str(-1 - i % 50) if i % 2 else str(151 + i % 50)
        elif k == "null_age":
            age[i] = None
        elif k == "bad_email":
            email[i] = f"user{i}.example.com"
        else:  # an exact copy of a clean row
            j = clean[int(r.integers(0, len(clean)))]
            name[i], age[i], email[i] = name[j], age[j], email[j]
    rejected = {}
    for k, reason in REASON.items():
        rejected[reason] = rejected.get(reason, 0) + counts[k]
    valid = n - sum(rejected.values())
    expected = {
        "rows": n, "valid": valid, "rejected": rejected,
        # every duplicate row repeats the (name, email) of a clean row
        "valid_distinct": valid - counts["duplicate"],
        "planted": counts,
    }
    schema = pa.schema([("name", pa.string()), ("age", pa.string()),
                        ("email", pa.string())])
    tables = []
    for f in range(files):
        s = slice(f * rows_per_file, (f + 1) * rows_per_file)
        tables.append(pa.table([pa.array(name[s], pa.string()),
                                pa.array(age[s], pa.string()),
                                pa.array(email[s], pa.string())], schema=schema))
    return tables, expected


def write_users(seed, files, rows_per_file, csv_dir, parquet_dir):
    """Write the users drop twice: CSV (input_NNN.csv, with header) for the
    batch eras and parquet (part_NNN.parquet) for the stream. Returns the
    expected counts: total, valid, rejected by reason, valid distinct
    (name, email), and rows per parquet file that pass validation."""
    for d in (csv_dir, parquet_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    tables, expected = users_files(seed, files, rows_per_file)
    opts = pacsv.WriteOptions(include_header=True, quoting_style="needed")
    valid_per_file = []
    for f, t in enumerate(tables):
        pacsv.write_csv(t, os.path.join(csv_dir, f"input_{f:03d}.csv"), opts)
        _write(t, os.path.join(parquet_dir, f"part_{f:03d}.parquet"))
        valid_per_file.append(_valid_rows(t))
    expected["valid_per_file"] = valid_per_file
    assert sum(valid_per_file) == expected["valid"]
    return expected


def _valid_rows(t):
    """Rows of t passing Pipelines.validUser, computed independently."""
    ok = 0
    for n, a, e in zip(*(t.column(c).to_pylist() for c in ("name", "age", "email"))):
        if n is None or n.strip() == "" or a is None or e is None or "@" not in e:
            continue
        try:
            v = int(a)
        except ValueError:
            continue
        ok += 0 <= v <= 150
    return ok
