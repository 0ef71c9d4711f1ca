"""Seeded input generator for the benchmark.

Every input the benchmarked program reads is made here from the workload
seed, so the same seed gives byte-identical files. The program receives
only these files.

Tables follow the schemas of the engine's parquet testdata (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) so the registry queries and their DuckDB oracle SQL run on
them unchanged. `ipf_alloc` adds a keywords/hours/visits CSV trio in the
reference formats and a wide COO matrix with its two marginals.

Stated input properties (they decide how much work inputs share):
  - documents: DOC_NEAR_DUP of the documents are near-duplicate copies of an
    earlier document (one word replaced, " dup" appended) and
    DOC_EXACT_DUP are exact copies;
  - embeddings: EMB_NEAR_DUP of the vectors are noisy copies of an earlier
    vector (cosine > 0.99);
  - CSV trio: keyword spend is Zipf(ZIPF_S) over KEYWORDS keywords x 24
    hours; the keyword and hour marginals sum to the same total in micros
    and in clicks;
  - wide matrix: WIDE_ROWS x WIDE_COLS at WIDE_DENSITY, every row and
    column non-empty, marginals with equal totals.
"""
import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]

# Sizes per workload. ipf_alloc's keywords/wide matrix and the documents and
# embeddings counts set the per-pass work; they are also stated in
# BENCHMARK.json and perfbench/README.md.
SIZES = {
    "ipf_alloc": dict(lineitem=10000, orders=2500, part=500, customer=250,
                      documents=400, embeddings=100, events=1000),
    "llm_curation": dict(lineitem=10000, orders=2500, part=500, customer=250,
                         documents=400, embeddings=300, events=1000),
    "table_ops": dict(lineitem=1000, orders=250, part=50, customer=25,
                      documents=600, embeddings=100, events=5000),
}
KEYWORDS = 400
ZIPF_S = 1.1
WIDE_ROWS, WIDE_COLS, WIDE_DENSITY = 20, 2000, 0.30
DOC_NEAR_DUP, DOC_EXACT_DUP = 0.10, 0.02
EMB_NEAR_DUP, EMB_DIM = 0.10, 64
SUPPLIERS = 50


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts_us(days_from: str, n_seconds: np.ndarray) -> pa.Array:
    base = int(_dt.datetime.fromisoformat(days_from)
               .replace(tzinfo=_dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(base + n_seconds.astype(np.int64), type=pa.timestamp("us"))


def _documents(rng, n):
    texts = []
    n_near = int(round(n * DOC_NEAR_DUP))
    n_exact = int(round(n * DOC_EXACT_DUP))
    n_orig = n - n_near - n_exact
    for _ in range(n_orig):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    for _ in range(n_near):
        toks = texts[int(rng.integers(0, n_orig))].split()
        toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts.append(" ".join(toks) + " dup")
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(0, n_orig))])
    order = rng.permutation(n)  # copies are spread over the id range
    texts = [texts[i] for i in order]
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    source = [f"src{i % 20}" for i in range(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(lang.tolist(), type=pa.string()),
        "source": pa.array(source, type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n):
    n_near = int(round(n * EMB_NEAR_DUP))
    v = rng.standard_normal((n, EMB_DIM))
    src = rng.integers(0, n - n_near, n_near)
    v[n - n_near:] = v[src] + 0.05 * rng.standard_normal((n_near, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    v = v[rng.permutation(n)]
    emb = pa.array(list(v), type=pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _events(rng, n):
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts_us("2024-01-01", secs),
        "user_id": pa.array(rng.integers(0, max(n // 60, 10), n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), type=pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(props, type=pa.string()),
    })


def _relational(rng, sz):
    n_part, n_cust, n_ord, n_li = sz["part"], sz["customer"], sz["orders"], sz["lineitem"]
    day = 86400 * 1_000_000
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust).tolist()}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(SUPPLIERS, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
            "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, SUPPLIERS), 2))}),
    }
    retail = np.round(900 + np.arange(n_part) * 0.1, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["small", "red", "blue", "large", "green"], n_part),
            rng.choice(["ring", "widget", "bolt", "gear", "plate"], n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts_us("1992-01-01", rng.integers(0, 2557, n_ord) * day),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist()})
    pk = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(pk.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[pk], 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) * 0.01, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) * 0.01, 2)),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _ts_us("1992-01-01", rng.integers(0, 2557, n_li) * day)})
    return tables


def _split_total(rng, total: int, weights: np.ndarray) -> np.ndarray:
    """Integer shares of `total` proportional to `weights` (largest remainder),
    so the parts sum to `total` exactly."""
    raw = weights / weights.sum() * total
    out = np.floor(raw).astype(np.int64)
    rem = total - int(out.sum())
    out[np.argsort(-(raw - out), kind="stable")[:rem]] += 1
    return out


def _cost_trio(rng, out_dir):
    """keywords.csv / hours.csv / visits.csv in the reference formats: money
    in integer micros, zero-click keywords filtered by the pipeline, a few
    keywords with spend but no visits (the pipeline zero-pads them)."""
    k = KEYWORDS
    names = [f"kw{i} {WORDS[i % len(WORDS)]} {WORDS[(i * 7) % len(WORDS)]}" for i in range(k)]
    ranks = rng.permutation(k) + 1
    zero = rng.random(k) < 0.05                 # TotalClicks = 0 rows
    weights = np.where(zero, 0.0, 1.0 / ranks ** ZIPF_S)
    total_micros = 150_000 * 1_000_000
    cost = _split_total(rng, total_micros, weights)
    clicks = np.where(zero, 0, 1 + rng.poisson(cost / 2e7))
    profile = 0.3 + np.sin(np.linspace(0, np.pi, 24)) ** 2
    hour_cost = _split_total(rng, total_micros, profile)
    hour_clicks = _split_total(rng, int(clicks.sum()), profile)
    no_visits = (~zero) & (rng.random(k) < 0.02)
    lam = np.outer(clicks, profile / profile.sum())
    visits = rng.poisson(lam)
    with open(os.path.join(out_dir, "keywords.csv"), "w") as f:
        f.write("Keyword,TotalCost,TotalClicks\n")
        for n, c, cl in zip(names, cost, clicks):
            f.write(f"{n},{c},{cl}\n")
    with open(os.path.join(out_dir, "hours.csv"), "w") as f:
        f.write("HourOfDay,HourlyCost,HourlyClicks\n")
        for h in range(24):
            f.write(f"{h},{hour_cost[h]},{hour_clicks[h]}\n")
    with open(os.path.join(out_dir, "visits.csv"), "w") as f:
        f.write("Keyword," + ",".join(str(h) for h in range(24)) + ",TotalClicks\n")
        for i in range(k):
            if zero[i] or no_visits[i]:
                continue
            f.write(names[i] + "," + ",".join(str(v) for v in visits[i])
                    + f",{visits[i].sum()}\n")
    return int((~zero).sum()) * 24   # seed cells: every costed keyword x 24 hours


def _wide_matrix(rng, out_dir):
    """COO (row, col, value) with few rows and a very large co-dimension,
    plus row/col marginals (idx, value) with equal totals."""
    r, c = WIDE_ROWS, WIDE_COLS
    # one cell per column at row (col mod r), so every row and column is
    # non-empty, and the rest drawn so the expected density is WIDE_DENSITY
    mask = rng.random((r, c)) < (WIDE_DENSITY * r - 1) / (r - 1)
    mask[np.arange(c) % r, np.arange(c)] = True
    rows, cols = np.nonzero(mask)
    vals = np.round(rng.uniform(0.5, 1.5, rows.size), 6)
    _write(pa.table({"row": pa.array(rows.astype(np.int64)),
                     "col": pa.array(cols.astype(np.int64)),
                     "value": pa.array(vals)}), os.path.join(out_dir, "wide_seed.parquet"))
    total = float(vals.sum())
    for name, n in (("wide_x", r), ("wide_y", c)):
        w = rng.uniform(0.5, 1.5, n)
        _write(pa.table({"idx": pa.array(np.arange(n, dtype=np.int64)),
                         "value": pa.array(w / w.sum() * total)}),
               os.path.join(out_dir, f"{name}.parquet"))
    return int(rows.size)


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write every input of `workload` for `seed` into `out_dir`; returns the
    seed-cell counts of the two generated IPF fits (0 where absent)."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(out_dir, exist_ok=True)
    # one independent stream per input family, so resizing one family
    # leaves the others' bytes unchanged
    streams = np.random.SeedSequence([seed, sorted(SIZES).index(workload)]).spawn(6)
    rng = [np.random.default_rng(s) for s in streams]
    sz = SIZES[workload]
    tables = _relational(rng[0], sz)
    tables["documents"] = _documents(rng[1], sz["documents"])
    tables["embeddings"] = _embeddings(rng[2], sz["embeddings"])
    tables["events"] = _events(rng[3], sz["events"])
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    cells = {"trio_cells": 0, "wide_cells": 0}
    if workload == "ipf_alloc":
        cells["trio_cells"] = _cost_trio(rng[4], out_dir)
        cells["wide_cells"] = _wide_matrix(rng[5], out_dir)
    return cells
