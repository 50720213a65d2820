"""Seeded input generator for the benchmark workloads.

Each workload's inputs are written once per seed under
`<work>/inputs/<workload>-<seed>/`, in two sizes: `full` (measured) and
`warm` (about 1 %, for the warm-up pass of set-up).  `plan.json` holds the
parameters the harness needs; `stats.json` records each input's row count,
distinct values, hottest-cell share and the expected result rows of each
operation, so that a skewed workload can be seen to move reducer load
without blowing up its results.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check

# theta_*: rows per side of S and T, rows of the inequality-join probe
# side L, rows of S1 and T1 for the quadratic 1-Bucket-Theta grid.
THETA = {"full": dict(n=40_000, n_probe=12, n_grid=1_000),
         "warm": dict(n=400, n_probe=4, n_grid=100)}
THETA_DOMAIN_PER_ROW = 10   # values are drawn from [0, 10 n)
THETA_EPS = 10              # band width of the uniform workload
THETA_INTERVAL = 20         # mean interval length
HOT_SHARE = 0.6             # theta_skew: share of rows in the hot cells
# table_lifecycle: base rows and rows per write of one pass.
TABLE = {"full": dict(base=10_000, append=1_000, merge=500, merge_mor=250, stream=500),
         "warm": dict(base=100, append=10, merge=6, merge_mor=4, stream=6)}
TABLE_PASSES = 16
# lakehouse: scale factor of the generated TPC-H-like tables the judged
# queries read.
SCAN_SF = {"full": 0.01, "warm": 0.001}


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def _skewed(rng, n, domain, hot_centers, width):
    """Uniform values, except that HOT_SHARE of them fall in narrow cells."""
    v = rng.integers(0, domain, n)
    hot = rng.random(n) < HOT_SHARE
    cell = rng.integers(0, len(hot_centers), n)
    v[hot] = np.asarray(hot_centers)[cell[hot]] + rng.integers(0, width, hot.sum())
    return v


def _hottest_share(v, cells, domain):
    counts = np.bincount(np.minimum(v * cells // domain, cells - 1), minlength=cells)
    return float(counts.max() / max(len(v), 1))


def theta(out, rng, skew, size):
    p = THETA[size]
    n, domain = p["n"], p["n"] * THETA_DOMAIN_PER_ROW
    eps = THETA_EPS
    if skew:
        sv = _skewed(rng, n, domain, [domain // 4, domain // 2], eps)
        tv = _skewed(rng, n, domain, [domain * 5 // 8, domain * 7 // 8], eps)
    else:
        sv, tv = rng.integers(0, domain, n), rng.integers(0, domain, n)
    se = sv + rng.integers(1, 2 * THETA_INTERVAL, n)
    te = tv + rng.integers(1, 2 * THETA_INTERVAL, n)
    # The probe side takes T's values at evenly spaced ranks, each moved by
    # a small seeded jitter, so the inequality joins' result size does not
    # swing with the seed the way a dozen random draws would.
    k = p["n_probe"]
    step = n // k
    lv = np.sort(tv)[np.arange(k) * step + step // 2 + rng.integers(-step // 50, step // 50 + 1, k)]
    ids = np.arange(n, dtype=np.int64)
    g = p["n_grid"]
    tables = {
        "S": {"s_id": ids, "s_v": sv, "s_e": se},
        "T": {"t_id": ids, "t_v": tv, "t_e": te},
        "L": {"l_id": np.arange(len(lv), dtype=np.int64), "l_v": lv},
        "S1": {"s_id": ids[:g], "s_v": sv[:g], "s_e": se[:g]},
        "T1": {"t_id": ids[:g], "t_v": tv[:g], "t_e": te[:g]},
    }
    for name, cols in tables.items():
        _write(f"{out}/{name}.parquet", {k: np.asarray(c, dtype=np.int64) for k, c in cols.items()})
    con = check.connect({t: f"{out}/{t}.parquet" for t in tables})
    if skew:
        # Narrow the band until the result is no larger than the uniform
        # workload's expected size: the skew moves reducer load, not output.
        target = n * n / domain * (2 * eps + 1)
        while eps > 1 and check.count(con, check.theta_sql("bandJoin", eps)) > target:
            eps -= 1
    lens = np.sort(te - tv)
    plan = dict(eps=eps, lo=0.0, hi=float(domain), grid=2,
                iv_width=int(max(1, lens[len(lens) // 2])),
                rows={t: len(next(iter(c.values()))) for t, c in tables.items()},
                columns={t: list(c) for t, c in tables.items()})
    expected = {op: check.digest(con, check.theta_sql(op, eps)) for op in check.THETA_OPS}
    stats = dict(
        inputs={t: dict(rows=plan["rows"][t],
                        distinct=int(len(np.unique(c[[k for k in c if k.endswith("_v")][0]]))),
                        hottest_cell_share=_hottest_share(
                            c[[k for k in c if k.endswith("_v")][0]], 32, domain))
                for t, c in tables.items()},
        expected_rows={op: d["n"] for op, d in expected.items()})
    return plan, expected, stats


def table(out, rng, size):
    p = TABLE[size]
    base = p["base"]

    def rows(ids):
        n = len(ids)
        return {"id": np.asarray(ids, dtype=np.int64),
                "k": rng.integers(0, 100, n), "v": rng.integers(0, 1_000_000, n)}

    _write(f"{out}/base.parquet", rows(np.arange(base)))
    files = {"base.parquet": base}
    passes = []
    for i in range(TABLE_PASSES):
        fresh = base + i * 10 * base  # ids no earlier write used
        existing = rng.choice(base, p["merge"] // 2, replace=False)
        existing_mor = rng.choice(base, p["merge_mor"] // 2, replace=False)
        parts = {
            f"append_{i}.parquet": np.arange(fresh, fresh + p["append"]),
            f"merge_{i}.parquet": np.concatenate(
                [existing, np.arange(fresh + base, fresh + base + p["merge"] // 2)]),
            f"merge_mor_{i}.parquet": np.concatenate(
                [existing_mor, np.arange(fresh + 2 * base, fresh + 2 * base + p["merge_mor"] // 2)]),
            f"stream_{i}.parquet": np.arange(fresh + 3 * base, fresh + 3 * base + p["stream"]),
        }
        for f, ids in parts.items():
            _write(f"{out}/{f}", rows(ids))
            files[f] = len(ids)
        passes.append({"append": f"append_{i}.parquet", "merge": f"merge_{i}.parquet",
                       "merge_mor": f"merge_mor_{i}.parquet", "stream": f"stream_{i}.parquet",
                       "k_update": int(rng.integers(0, 100)), "k_delete": int(rng.integers(0, 100))})
    plan = dict(rows=files, passes=passes, small_rows=base // 20, target_rows=base // 2)
    stats = dict(inputs={f: dict(rows=n) for f, n in files.items()})
    return plan, {}, stats


WORDS = ("a the data table query join scan filter sort group agg window key value "
         "row column part order line customer stream batch merge hash spark fast "
         "slow big small vector").split()


def tpch_like(out, sf, rng):
    """TPC-H-like tables plus events, documents and embeddings, with the
    schema the judged queries read."""
    def ts(start, days, n, us=False):
        t0 = np.datetime64(start, "us")
        step = rng.integers(0, days * 86_400_000_000, n) if us else \
            rng.integers(0, days, n) * 86_400_000_000
        return pa.array(t0 + step.astype("timedelta64[us]"), pa.timestamp("us"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = max(500, int(50_000 * sf)), max(500, int(20_000 * sf)), max(15, int(15_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    pick = lambda vals, n: np.asarray(vals, dtype=object)[rng.integers(0, len(vals), n)]
    nouns = "anvil ring widget gear bolt spring valve lever pin hinge cog nut shaft".split()
    colors = "red blue green black white".split()
    words = np.asarray(WORDS, dtype=object)
    docs = [" ".join(words[rng.integers(0, len(words), rng.integers(8, 90))]) for _ in range(n_doc)]
    tables = {
        "region": {"r_regionkey": i32(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32([i % 5 for i in range(25)])},
        "customer": {"c_custkey": np.arange(n_cust), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": i32(rng.integers(0, 25, n_cust)), "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)},
        "supplier": {"s_suppkey": np.arange(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": i32(rng.integers(0, 25, n_supp)), "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {"p_partkey": np.arange(n_part),
                 "p_name": [f"{c} {w}" for c, w in zip(pick(colors, n_part), pick(nouns, n_part))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                 "p_size": i32(rng.integers(1, 51, n_part)),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)},
        "orders": {"o_orderkey": np.arange(n_ord), "o_custkey": rng.integers(0, n_cust, n_ord),
                   "o_orderstatus": pick(["F", "O", "P"], n_ord), "o_totalprice": money(1000, 500_000, n_ord),
                   "o_orderdate": ts("1995-01-01", 2404, n_ord),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        "lineitem": {"l_orderkey": rng.integers(0, n_ord, n_line), "l_partkey": rng.integers(0, n_part, n_line),
                     "l_suppkey": rng.integers(0, n_supp, n_line), "l_linenumber": i32(rng.integers(1, 8, n_line)),
                     "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": money(900, 105_000, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100.0, "l_tax": rng.integers(0, 9, n_line) / 100.0,
                     "l_returnflag": pick(["A", "N", "R"], n_line), "l_linestatus": pick(["F", "O"], n_line),
                     "l_shipdate": ts("1995-01-02", 2498, n_line)},
        "events": {"event_id": np.arange(n_ev), "ts": ts("2024-01-01", 30, n_ev, us=True),
                   "user_id": rng.integers(0, n_users, n_ev),
                   "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
                   "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        "documents": {"doc_id": np.arange(n_doc), "text": docs,
                      "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
                      "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
                      "n_chars": np.array([len(d) for d in docs])},
        "embeddings": {"vec_id": np.arange(n_emb),
                       "embedding": pa.array(list(rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)),
                                             pa.list_(pa.float32())),
                       "label": i32(rng.integers(0, 10, n_emb))},
    }
    for name, cols in tables.items():
        _write(f"{out}/{name}.parquet", cols)
    tpch_like.last = {t: len(next(iter(c.values()))) for t, c in tables.items()}


def scan(out, rng, size, order):
    tpch_like(out, SCAN_SF[size], rng)
    plan = dict(queries=order)
    return plan, {}, dict(inputs=dict(tpch_like.last))


def generate(workload, seed, root, scan_queries):
    """Writes the inputs for (workload, seed) unless they already exist;
    returns the directory."""
    out = os.path.join(root, f"{workload}-{seed}")
    if os.path.exists(os.path.join(out, "plan.json")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    rng = np.random.default_rng([seed, ["theta_uniform", "theta_skew", "lakehouse"].index(workload)])
    order = [scan_queries[i] for i in rng.permutation(len(scan_queries))]
    plans, expected, stats = {}, {}, {}
    for size in ("full", "warm"):
        d = os.path.join(out, size)
        if workload.startswith("theta_"):
            r = theta(d, rng, workload == "theta_skew", size)
        else:
            t = table(os.path.join(d, "table"), rng, size)
            s = scan(os.path.join(d, "scan"), rng, size, order)
            r = tuple({"table": a, "scan": b} for a, b in zip(t, s))
        plans[size], expected[size], stats[size] = r
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected["full"], f)
    with open(os.path.join(out, "stats.json"), "w") as f:
        json.dump(stats, f, indent=1)
    with open(os.path.join(out, "plan.json"), "w") as f:  # written last: marks completion
        json.dump(plans, f)
    return out
