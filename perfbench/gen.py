"""Seeded input generators for the benchmark workloads.

Every input is a pure function of the seed: the same seed writes
byte-identical files. Each generator also writes a small JSON plan that
the harness and the correctness checks read back.

  dag_ticks     loan CSV batches, one directory per DAG tick
  stream_dedup  a base corpus plus one JSON-lines micro-batch per op,
                with planted near-duplicates of known Jaccard
  catalog_ops   the parquet tables the catalog queries read: lineitem,
                documents and embeddings, with planted near-duplicates
"""
import csv
import functools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- dag_ticks

DAG_TICKS = 4           # ticks in one pass
DAG_SMALL = 4           # own files on even ticks: below FileIngest's threshold of 8
DAG_LARGE = 10          # own files on odd ticks: at or above the threshold
DAG_ROWS = 1000         # loan rows per file
DAG_NULL_SHARE = 0.05   # nulls per non-key column
TICK_SECONDS = 120      # logical time between ticks
MIN_AGE_SECONDS = 60    # the admission age passed to Dag.run
YOUNG_AGE_SECONDS = 10  # the deferred file is this old at its first tick

STATUSES = ["APPROVED", "PENDING", "REJECTED", "CLOSED"]
PRODUCTS = ["PERSONAL", "HOME", "AUTO", "GOLD"]
BRANCHES = ["KTM", "PKR", "BRT"]
BANDS = ["A", "B", "C", "D"]
LOAN_COLUMNS = ["loan_id", "customer_id", "created_at", "amount", "interest_rate",
                "tenure_months", "status", "product_type", "branch", "credit_score_band"]
# nulls go only where they cannot move the checked aggregates
NULLABLE = ["customer_id", "created_at", "interest_rate", "tenure_months",
            "credit_score_band"]


def _loan_rows(rng, first_id, n):
    status = rng.integers(0, len(STATUSES), n)
    product = rng.integers(0, len(PRODUCTS), n)
    branch = rng.integers(0, len(BRANCHES), n)
    band = rng.integers(0, len(BANDS), n)
    nulls = rng.random((n, len(NULLABLE))) < DAG_NULL_SHARE
    cents = rng.integers(50_000, 5_000_000, n)
    rate = rng.integers(500, 1800, n)
    tenure = rng.choice([6, 12, 24, 36, 48, 60], n)
    cust = rng.integers(0, 5000, n)
    secs = rng.integers(0, 365 * 86400, n)
    base = np.datetime64("2025-01-01T00:00:00")
    rows = []
    for i in range(n):
        ts = str(base + np.timedelta64(int(secs[i]), "s")).replace("T", " ")
        row = {
            "loan_id": f"L{first_id + i:08d}",
            "customer_id": f"C{cust[i]:05d}",
            "created_at": ts,
            "amount": f"{cents[i] // 100}.{cents[i] % 100:02d}",
            "interest_rate": f"{rate[i] / 100:.2f}",
            "tenure_months": str(tenure[i]),
            "status": STATUSES[status[i]],
            "product_type": PRODUCTS[product[i]],
            "branch": BRANCHES[branch[i]],
            "credit_score_band": BANDS[band[i]],
        }
        for c, null in zip(NULLABLE, nulls[i]):
            if null:
                row[c] = ""
        rows.append(row)
    return rows


def _write_csv(path, rows):
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=LOAN_COLUMNS, lineterminator="\n")
        w.writeheader()
        w.writerows(rows)


def gen_dag(rng, out):
    """One directory per tick. Tick i drops its own loan files, one
    non-`loan_` file (rejected) and, except on the last tick, one loan
    file too young to admit (deferred to tick i+1)."""
    os.makedirs(out, exist_ok=True)
    ticks = []
    next_id = 0
    for i in range(DAG_TICKS):
        d = os.path.join(out, f"tick_{i:03d}")
        os.makedirs(d)
        n_own = DAG_LARGE if i % 2 else DAG_SMALL
        files = []
        for j in range(n_own):
            name = f"loan_t{i:03d}_{j:02d}.csv"
            _write_csv(os.path.join(d, name), _loan_rows(rng, next_id, DAG_ROWS))
            next_id += DAG_ROWS
            files.append({"name": name, "age_s": 5 * TICK_SECONDS})
        if i < DAG_TICKS - 1:
            name = f"loan_t{i:03d}_young.csv"
            _write_csv(os.path.join(d, name), _loan_rows(rng, next_id, DAG_ROWS))
            next_id += DAG_ROWS
            files.append({"name": name, "age_s": YOUNG_AGE_SECONDS})
        name = f"notes_t{i:03d}.csv"
        _write_csv(os.path.join(d, name), _loan_rows(rng, 10**9 + i * DAG_ROWS, DAG_ROWS))
        files.append({"name": name, "age_s": 5 * TICK_SECONDS})
        ticks.append({"dir": f"tick_{i:03d}", "files": files})
    plan = {"ticks": ticks, "tick_seconds": TICK_SECONDS,
            "min_age_seconds": MIN_AGE_SECONDS, "rows_per_file": DAG_ROWS}
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f, indent=1)


# ------------------------------------------------------------- stream_dedup

VOCAB = 30000           # Zipf vocabulary size
ZIPF_S = 0.7            # Zipf exponent
BASE_DOCS = 1500        # docs in the base signature store
STREAM_BATCHES = 2      # micro-batches in one pass
BATCH_DOCS = 150        # docs per micro-batch
DUP_SHARE = 0.20        # planted near-duplicates per batch
BOILER_EVERY = 4        # every fourth fresh doc carries the boilerplate span
BOILERPLATE = ("terms of use privacy policy all rights reserved "
               "subscribe to our newsletter").split()
THRESHOLD = 0.5         # the gate's Jaccard threshold


@functools.lru_cache(maxsize=None)
def _zipf_cdf():
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    return np.cumsum(p / p.sum())


def _zipf_words(rng, n):
    cdf = _zipf_cdf()
    return np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB - 1)


def _fresh_text(rng, i):
    """Fresh doc number `i`: 30 to 89 Zipf words. A fixed share carries the
    boilerplate, so the hot LSH buckets are the same size for every seed."""
    n = int(rng.integers(30, 90))
    words = [f"w{w}" for w in _zipf_words(rng, n)]
    if i % BOILER_EVERY == 0:
        at = int(rng.integers(0, len(words) + 1))
        words[at:at] = BOILERPLATE
    return " ".join(words)


def _near_copy(rng, text, target):
    """A text whose distinct-token Jaccard with `text` is close to `target`:
    keep a share of the source's distinct tokens and add fresh ones."""
    src = list(dict.fromkeys(text.split(" ")))
    n = len(src)
    # keep k, add m fresh: J = k / (n + m); with m = n - k, J = k / (2n - k)
    k = max(1, min(n, int(round(2 * n * target / (1 + target)))))
    keep = set(rng.choice(n, size=k, replace=False).tolist())
    words = [w for i, w in enumerate(src) if i in keep]
    words += [f"x{int(v)}" for v in rng.integers(0, 10**9, n - k)]
    order = rng.permutation(len(words))
    return " ".join(words[i] for i in order)


def jaccard(a, b):
    sa, sb = set(a.split(" ")), set(b.split(" "))
    return len(sa & sb) / len(sa | sb)


def gen_stream(rng, out):
    os.makedirs(out, exist_ok=True)
    base = [{"doc_id": i, "text": _fresh_text(rng, i)} for i in range(BASE_DOCS)]
    with open(os.path.join(out, "base.jsonl"), "w") as f:
        for d in base:
            f.write(json.dumps(d) + "\n")
    planted = []
    next_id = 1_000_000
    for b in range(STREAM_BATCHES):
        docs = []
        n_dup = int(BATCH_DOCS * DUP_SHARE)
        for i in range(BATCH_DOCS - n_dup):
            docs.append({"doc_id": next_id, "text": _fresh_text(rng, i)})
            next_id += 1
        for j in range(n_dup):
            target = float(rng.uniform(0.3, 0.95))
            if j % 2 == 0:   # duplicate of a base-store doc
                src = base[int(rng.integers(0, BASE_DOCS))]
                origin = "store"
            else:            # duplicate of an earlier doc in the same batch
                src = docs[int(rng.integers(0, BATCH_DOCS - n_dup))]
                origin = "batch"
            text = _near_copy(rng, src["text"], target)
            docs.append({"doc_id": next_id, "text": text})
            planted.append({"batch": b, "doc_id": next_id, "dup_of": src["doc_id"],
                            "origin": origin, "jaccard": jaccard(text, src["text"])})
            next_id += 1
        with open(os.path.join(out, f"batch_{b:03d}.json"), "w") as f:
            for d in docs:
                f.write(json.dumps(d) + "\n")
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump({"batches": STREAM_BATCHES, "batch_docs": BATCH_DOCS,
                   "base_docs": BASE_DOCS, "threshold": THRESHOLD,
                   "planted": planted}, f)


# -------------------------------------------------------------- catalog_ops

# the catalog queries of the workload and the table each one reads
CATALOG_QUERIES = {"q25_minhash_lsh": "documents", "q141_leakage_split": "embeddings",
                   "q01_group_agg": "lineitem"}
CAT_LINEITEM = 200_000  # lineitem rows
CAT_DOCS = 2000         # documents rows
CAT_VECS = 1000         # embeddings rows
CAT_DIM = 64            # embedding width the near-dup query assumes
CAT_SLICE = 100         # both near-dup queries probe from ids below this
CAT_DUP_SHARE = 0.20    # planted near-duplicates of the probed ids


def _lineitem(rng, n):
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = rng.integers(90_000, 10_500_000, n) / 100.0
    ship = np.datetime64("1992-01-02") + rng.integers(0, 2500, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(1, n // 4 + 2, n)), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20_001, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_001, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


def _documents(rng, n):
    """Zipf docs with boilerplate; a share of the probed ids get a planted
    near-copy elsewhere in the corpus, Jaccard spread around 0.5."""
    texts = [_fresh_text(rng, i) for i in range(n)]
    n_dup = int(CAT_SLICE * CAT_DUP_SHARE * 5)
    for src in rng.integers(0, CAT_SLICE, n_dup):
        dst = int(rng.integers(CAT_SLICE, n))
        texts[dst] = _near_copy(rng, texts[int(src)], float(rng.uniform(0.3, 0.95)))
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    """Gaussian vectors; a share of the probed ids get a planted noisy
    copy elsewhere, cosine spread from 0.3 to 0.97."""
    v = rng.standard_normal((n, CAT_DIM))
    n_dup = int(CAT_SLICE * CAT_DUP_SHARE * 5)
    for src in rng.integers(0, CAT_SLICE, n_dup):
        dst = int(rng.integers(CAT_SLICE, n))
        noise = float(rng.uniform(0.25, 3.0))
        v[dst] = v[int(src)] + noise * rng.standard_normal(CAT_DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def gen_catalog(rng, out):
    os.makedirs(out, exist_ok=True)
    tables = {"lineitem": _lineitem(rng, CAT_LINEITEM),
              "documents": _documents(rng, CAT_DOCS),
              "embeddings": _embeddings(rng, CAT_VECS)}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump({"queries": list(CATALOG_QUERIES),
                   "query_rows": {q: tables[t].num_rows for q, t in CATALOG_QUERIES.items()},
                   "tables": list(tables)}, f)


GENERATORS = {"dag_ticks": ("dag", gen_dag), "stream_dedup": ("stream", gen_stream),
              "catalog_ops": ("catalog", gen_catalog)}


def generate(workload, seed, root):
    """Write the workload's inputs under `root`; return their directory."""
    sub, fn = GENERATORS[workload]
    out = os.path.join(root, sub)
    fn(np.random.default_rng([seed, sorted(GENERATORS).index(workload)]), out)
    return out
