"""Correctness checks on what the engine wrote during a run. Each
workload check returns the ids of the ops whose outputs are wrong, with a
reason, and the workload's stored-bytes ratio per pass.
"""
import csv
import glob
import gzip
import json
import os
from collections import defaultdict

import pyarrow.parquet as pq

import gen


def _read(path):
    return pq.read_table(path).to_pylist()


def _size(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------- dag_ticks

def _csv_rows(path):
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


def check_dag(raw, inputs, work):
    plan = json.load(open(os.path.join(inputs, "plan.json")))
    ticks = plan["ticks"]
    src = {}                 # file name -> path of the generated file
    for t in ticks:
        for f in t["files"]:
            src[f["name"]] = os.path.join(inputs, t["dir"], f["name"])

    # what each tick must admit, defer and reject
    expect = []
    carried, rejected = [], []
    for t in ticks:
        own = [f["name"] for f in t["files"]]
        loans = [n for n in own if n.startswith("loan_")]
        young = [n for n in loans if n.endswith("_young.csv")]
        rejected = rejected + [n for n in own if not n.startswith("loan_")]
        admitted = sorted(carried + [n for n in loans if n not in young])
        expect.append((admitted, sorted(young), sorted(rejected)))
        carried = young

    agg_by_file = {}   # per file: group -> [rows, amount in cents]
    for name, path in src.items():
        if not name.startswith("loan_"):
            continue
        g = defaultdict(lambda: [0, 0])
        for row in _csv_rows(path):
            k = (row["status"], row["product_type"], row["branch"])
            whole, frac = row["amount"].split(".")
            g[k][0] += 1
            g[k][1] += int(whole) * 100 + int(frac)
        agg_by_file[name] = g

    bad, ratios = {}, []
    by_pass = defaultdict(list)
    for o in raw["ops"]:
        by_pass[o["pass"]].append(o)
    for p, ops in by_pass.items():
        pdir = os.path.join(work, "dag", f"pass_{p}")
        wdir = os.path.join(pdir, "work")
        landed = []
        for o in ops:
            i = o["info"].get("tick", int(o["name"].split("_")[1]))
            admitted, deferred, rej = expect[i]
            landed += admitted
            if not o["ok"]:
                bad[o["id"]] = "op threw: " + o["err"][:200]
                continue
            info = o["info"]
            if sorted(info["processed"]) != admitted:
                bad[o["id"]] = f"admitted {info['processed']} != {admitted}"
                continue
            if sorted(info["deferred"]) != deferred or sorted(info["rejected"]) != rej:
                bad[o["id"]] = "deferred/rejected lists differ from the plan"
                continue
            for n in admitted:
                want = open(src[n], "rb").read()
                if open(os.path.join(wdir, "raw", n), "rb").read() != want:
                    bad[o["id"]] = f"landed bytes of {n} differ"
                elif gzip.decompress(open(os.path.join(wdir, "compressed", n + ".gz"), "rb")
                                     .read()) != want:
                    bad[o["id"]] = f"gz of {n} does not decompress to the landed bytes"
            if o["id"] in bad:
                continue
            exp = defaultdict(lambda: [0, 0])
            for n in landed:
                for k, (c, cents) in agg_by_file[n].items():
                    exp[k][0] += c
                    exp[k][1] += cents
            got = _read(os.path.join(pdir, "snap", f"tick_{i}", "aggregates"))
            got = {(r["status"], r["product_type"], r["branch"]):
                   (r["loan_count"], r["total_amount"]) for r in got}
            if set(got) != set(exp) or any(
                    got[k][0] != exp[k][0] or abs(got[k][1] - exp[k][1] / 100) >
                    1e-6 * max(1.0, exp[k][1] / 100) for k in exp):
                bad[o["id"]] = f"aggregates after tick {i} differ from the generator's"
        last = ops[-1]
        if last["id"] in bad:
            continue
        ledger = json.load(open(os.path.join(wdir, "ledger.json")))
        ids = {os.path.basename(x) for x in ledger["processed_file_ids"]}
        if not set(landed) <= ids:
            bad[last["id"]] = "ledger misses admitted files"
            continue
        cleaned = pq.read_table(os.path.join(wdir, "output", "cleaned"))
        if cleaned.num_rows != len(landed) * plan["rows_per_file"]:
            bad[last["id"]] = f"cleaned has {cleaned.num_rows} rows"
            continue
        nulls = {c: cleaned.column(c).null_count for c in gen.NULLABLE}
        if any(nulls.values()):
            bad[last["id"]] = f"imputed columns still hold nulls: {nulls}"
            continue
        stored = sum(_size(os.path.join(wdir, d)) for d in
                     ("raw", "compressed", "output", "ledger.json"))
        ratios.append(stored / sum(_size(src[n]) for n in landed))
    return bad, ratios


# ------------------------------------------------------------- stream_dedup

def _manifest(store):
    files = sorted(glob.glob(os.path.join(store, "_manifest", "v*.json")))
    return json.load(open(files[-1]))


def check_stream(raw, inputs, work):
    plan = json.load(open(os.path.join(inputs, "plan.json")))
    thr = plan["threshold"]
    text = {}
    base_n = 0
    for line in open(os.path.join(inputs, "base.jsonl")):
        d = json.loads(line)
        text[d["doc_id"]] = d["text"]
        base_n += 1
    batch_ids = []
    for b in range(plan["batches"]):
        ids = []
        for line in open(os.path.join(inputs, f"batch_{b:03d}.json")):
            d = json.loads(line)
            text[d["doc_id"]] = d["text"]
            ids.append(d["doc_id"])
        batch_ids.append(set(ids))
    must_reject = defaultdict(set)
    for pl in plan["planted"]:
        if pl["jaccard"] > 0.8:
            must_reject[pl["batch"]].add(pl["doc_id"])
    in_bytes = _size(os.path.join(inputs, "base.jsonl")) + sum(
        _size(os.path.join(inputs, f"batch_{b:03d}.json")) for b in range(plan["batches"]))

    bad, ratios = {}, []
    by_pass = defaultdict(list)
    for o in raw["ops"]:
        by_pass[o["pass"]].append(o)
    for p, ops in by_pass.items():
        pdir = os.path.join(work, "stream", f"pass_{p}")
        store = os.path.join(pdir, "store")
        kept_total = 0
        for o in ops:
            if not o["ok"]:
                bad[o["id"]] = "op threw: " + o["err"][:200]
                continue
            b = o["info"]["batch"]
            rows = _read(os.path.join(pdir, "decisions", f"batch={b}"))
            rejected = {r["doc_id"] for r in rows}
            for r in rows:
                if r["doc_id"] not in batch_ids[b] or r["dup_of"] not in text:
                    bad[o["id"]] = f"decision {r} names an unknown doc"
                    break
                # the engine reports Jaccard rounded to 4 places
                j = gen.jaccard(text[r["doc_id"]], text[r["dup_of"]])
                if r["jaccard"] < thr or abs(j - r["jaccard"]) > 5e-5 + 1e-12:
                    bad[o["id"]] = f"decision {r['doc_id']}->{r['dup_of']} has Jaccard {j}"
                    break
            if o["id"] in bad:
                continue
            missed = must_reject[b] - rejected
            if missed:
                bad[o["id"]] = f"planted duplicates above 0.8 admitted: {sorted(missed)[:5]}"
                continue
            appended = pq.read_table(os.path.join(store, f"tokens-v{b + 2:09d}")).num_rows
            if appended != len(batch_ids[b]) - len(rejected):
                bad[o["id"]] = f"store appended {appended} rows for batch {b}"
                continue
            kept_total += appended
        last = ops[-1]
        if last["id"] in bad:
            continue
        dirs = _manifest(store)["components"]["tokens"]
        total = sum(pq.read_table(os.path.join(store, d)).num_rows for d in dirs)
        if total != base_n + kept_total:
            bad[last["id"]] = f"store holds {total} rows, want {base_n} + {kept_total}"
            continue
        ratios.append((_size(store) + _size(os.path.join(pdir, "decisions"))) / in_bytes)
    return bad, ratios


# -------------------------------------------------------------- catalog_ops

def _norm(v):
    if isinstance(v, float):
        return "NULL" if v != v else round(v, 6)
    return v


def _leakage_split(con, pairs_sql, eval_mod=10, eval_slot=0):
    """q141's oracle with the recursive closure done here: connected
    components of the DuckDB near-dup pairs, cluster_id = least id in the
    component, singletons their own cluster, split by cluster_id mod 10."""
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x
    for a, b in con.execute(f"SELECT vec_a, vec_b FROM ({pairs_sql})").fetchall():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = [r[0] for r in con.execute(
        "SELECT vec_id FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL "
        "ORDER BY vec_id").fetchall()]
    cluster = {v: find(v) for v in ids}
    size = defaultdict(int)
    for c in cluster.values():
        size[c] += 1
    import pandas as pd
    return pd.DataFrame({
        "vec_id": ids,
        "cluster_id": [cluster[v] for v in ids],
        "cluster_size": [size[cluster[v]] for v in ids],
        "split": ["eval" if cluster[v] % eval_mod == eval_slot else "train" for v in ids]})


def _oracle_diff(con, info, out_dir):
    """Compare a query's parquet output with its DuckDB oracle the way
    scripts/check.py does: column-name-sorted values, row order ignored
    only if it is the sole difference. Returns a reason, or None."""
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        return "no output"
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
    if "pairs_oracle" in info:
        want = _leakage_split(con, info["pairs_oracle"])
    else:
        want = con.execute(info["oracle"]).fetchdf()
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    g = [tuple(_norm(v) for v in r) for r in got[gc].itertuples(index=False)]
    w = [tuple(_norm(v) for v in r) for r in want[wc].itertuples(index=False)]
    if g != w and sorted(map(repr, g)) != sorted(map(repr, w)):
        return "values differ from the oracle"
    return None


def check_catalog(raw, inputs, work):
    """The catalog slice of a traced dag_ticks run: the warm-up pass wrote
    each query's result once; a wrong result fails every timed op of that
    query."""
    import duckdb
    plan = json.load(open(os.path.join(inputs, "plan.json")))
    con = duckdb.connect()
    con.execute(f"SET threads TO {min(4, os.cpu_count() or 1)}")
    con.execute("SET memory_limit = '2GB'")
    for t in plan["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(inputs, t + '.parquet')}')")
    wrong = {}
    for o in raw["warmup_ops"]:
        q = o["name"]
        if not o["ok"]:
            wrong[q] = "check run threw: " + o["err"][:200]
        elif not o["info"].get("oracle"):
            wrong[q] = "no oracle"
        else:
            reason = _oracle_diff(con, o["info"], os.path.join(work, "catalog-out", q))
            if reason:
                wrong[q] = reason
    bad = {}
    for o in raw["ops"]:
        if not o["ok"]:
            bad[o["id"]] = "op threw: " + o["err"][:200]
        elif o["name"] in wrong:
            bad[o["id"]] = f"{o['name']}: {wrong[o['name']]}"
    return bad


CHECKS = {"dag_ticks": check_dag, "stream_dedup": check_stream}
