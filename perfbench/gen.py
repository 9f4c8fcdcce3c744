"""Seeded input generators for the benchmark.

Two kinds of input:

* ``tables``: the TPC-H-ish parquet tables the registered queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), with the schemas and value ranges of the gate
  data the queries were written against (FIXTURES.md section B). The query
  workloads use one fixed table seed, so their expected result
  fingerprints can be checked in; the workload seed orders their ops.
* ``entregas``: the pipeline's raw CSV plus the counts the pipeline must
  produce from it. Every dirty row breaks exactly one rule, so its expected
  quarantine reason is known without running the pipeline.
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20261017

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "red", "green", "small", "large", "shiny", "dark", "pale"]
NOUNS = ["anvil", "widget", "ring", "gear", "bolt", "spring", "valve", "lever"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "es", "de", "fr"]


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir, sf, seed=TABLE_SEED):
    """Write the ten query tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.clip(np.round(rng.exponential(50.0, n_ev), 2), 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


# --- entregas CSV -----------------------------------------------------------

CONFIG_COUNTRIES = ["EC", "PE", "CO", "CL"]
OTHER_COUNTRIES = ["MX", "BO"]
START, END = "2025-03-01", "2025-03-03"
ROUTINE, BONUS = ["ZPRE", "ZVE1"], ["Z04", "Z05"]
UNITS = {"CS": 20, "ST": 1}

# one rule each, so the reason string is the single code
DIRTY = [
    ("ERR_SIN_MATERIAL_CONOCIDO", "material"),
    ("ERR_CANT_NULL", "cantidad_null"),
    ("ERR_CANT_NO_POSITIVA", "cantidad_neg"),
    ("ERR_VENTA_NO_POSITIVA", "precio"),
    ("ERR_UNIDAD_DESCONOCIDA", "unidad"),
    ("ERR_TIPO_ENTREGA_NO_CONSIDERADA", "tipo"),
]


def entregas(csv_path, rows_per_country, seed):
    """Write the raw CSV; return the per-country counts the pipeline must
    produce: {country: {"clean": n, "quarantine": n, "motivo": {code: n}}}.

    Row mix per country: 80% clean in range, 2% clean with a
    whitespace-padded date, 12% dirty (2% per rule), 3% outside the date
    range and 3% with an unparseable date; the last two are dropped by the
    Bronze slice and reach neither sink. One clean row in ten carries a
    lower-case, space-padded delivery type and unit, which the pipeline
    normalizes.
    """
    rng = np.random.default_rng(seed)
    countries = CONFIG_COUNTRIES + OTHER_COUNTRIES
    n = rows_per_country * len(countries)
    country = np.repeat(np.array(countries), rows_per_country)
    kind = rng.choice(np.array(["clean", "padded", "dirty", "out", "bad"]), n,
                      p=[0.80, 0.02, 0.12, 0.03, 0.03])
    rule = rng.integers(0, len(DIRTY), n)
    lo = np.datetime64(START, "D").astype(np.int64)
    hi = np.datetime64(END, "D").astype(np.int64)
    day = np.char.replace(
        rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype(str), "-", "")
    fecha = day.astype(object)
    padded = kind == "padded"
    fecha[padded] = [f" {d[:4]} {d[4:]} " for d in day[padded]]
    out = kind == "out"
    fecha[out] = np.array(["20250304", "20250228"])[rng.integers(0, 2, out.sum())]
    bad = kind == "bad"
    fecha[bad] = np.array(["2025-03-15", "2025/03/15", "fecha", ""])[rng.integers(0, 4, bad.sum())]
    tipo = np.array(ROUTINE + BONUS)[rng.integers(0, 4, n)].astype(object)
    unit = np.array(list(UNITS))[rng.integers(0, 2, n)].astype(object)
    messy = rng.random(n) < 0.1
    tipo[messy] = [f" {t.lower()} " for t in tipo[messy]]
    unit[messy] = [u.lower() for u in unit[messy]]
    material = np.char.add("M", np.char.zfill(rng.integers(0, 5000, n).astype(str), 5)).astype(object)
    precio = np.char.mod("%.3f", rng.uniform(0.5, 900.0, n)).astype(object)
    cantidad = np.char.mod("%.2f", rng.integers(1, 400, n) / 4).astype(object)
    dirty = kind == "dirty"
    for r, (_, field) in enumerate(DIRTY):
        m = dirty & (rule == r)
        k = int(m.sum())
        if field == "material":
            material[m] = ""
        elif field == "cantidad_null":
            cantidad[m] = ""
        elif field == "cantidad_neg":
            cantidad[m] = np.array(["0", "-2.50"])[rng.integers(0, 2, k)]
        elif field == "precio":
            precio[m] = np.array(["0", "-10.00"])[rng.integers(0, 2, k)]
        elif field == "unidad":
            unit[m] = "KG"
        else:
            tipo[m] = "ZXX"
    transporte = np.char.add("T", rng.integers(0, 40, n).astype(str)).astype(object)
    ruta = np.char.add("R", rng.integers(0, 300, n).astype(str)).astype(object)
    order = rng.permutation(n)
    cols = [country.astype(object), fecha, transporte, ruta, tipo, material,
            precio, cantidad, unit]
    with open(csv_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["pais", "fecha_proceso", "transporte", "ruta", "tipo_entrega",
                    "material", "precio", "cantidad", "unidad"])
        w.writerows(zip(*[c[order] for c in cols]))
    expected = {}
    for c in CONFIG_COUNTRIES:
        mine = country == c
        motivo = {code: int((mine & dirty & (rule == r)).sum())
                  for r, (code, _) in enumerate(DIRTY)}
        expected[c] = {
            "clean": int((mine & ((kind == "clean") | padded)).sum()),
            "quarantine": int((mine & dirty).sum()),
            "motivo": {k: v for k, v in motivo.items() if v}}
    return expected


def config_yaml(csv_path, output_root):
    """The pipeline config, every listed country unprocessed."""
    lines = ["paths:", f"  raw_csv: {csv_path}", f"  output_root: {output_root}", "params:"]
    for c in CONFIG_COUNTRIES:
        lines += [f"- country: {c}", f"  start_date: '{START}'",
                  f"  end_date: '{END}'", "  proccess: 'NO'"]
    lines += ["delivery_types:", "  routine:"] + [f"  - {t}" for t in ROUTINE]
    lines += ["  bonus:"] + [f"  - {t}" for t in BONUS]
    lines += ["unit_factors:"] + [f"  {u}: {f}" for u, f in UNITS.items()]
    return "\n".join(lines) + "\n"
