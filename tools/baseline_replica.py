"""Single-node baseline replica: the reference engine's idiom (pandas
frames, ``iterrows``/``apply`` row loops — see
/root/reference/src/optimization/generate_suggestions.py:82-203,
/root/reference/src/dag/ml-job.py) re-expressed minimally, timed on the
same parquet inputs bench.py uses. Produces the numbers BASELINE.md
publishes.

This is NOT part of the engine — it exists so "match-or-beat the
reference's single-node throughput" is measured against the reference's
actual compute model (pandas + Python row loops) rather than guessed.
Five pipelines, each mapped to a BENCH headline key:

  q1_pricing_summary  vectorized pandas groupby (reference best case)
  kpi_hourly          events → (route,hour) rollup merges
  suggestions         kpi frame + decide() row loop (reference worst case)
  dedup_exact         md5-per-row hash dedup (hashlib loop)
  token_count         str.split + apply token counting

Usage: python tools/baseline_replica.py [sf_dir]   (default sf0.1)
Prints one JSON line: {"queries": {name: sec}, "rows": {name: n}}.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

import pandas as pd

SF_DIR = (
    sys.argv[1] if len(sys.argv) > 1 else
    os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
)

VEH_CAPACITY = 60.0
TARGET_LOAD = 0.75
LOW_LOAD = 0.25
MIN_HEADWAY, MAX_HEADWAY = 4.0, 60.0


def _read(name: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(SF_DIR, f"{name}.parquet"))


def q1_pricing_summary() -> pd.DataFrame:
    li = _read("lineitem")
    li = li[li["l_shipdate"] <= pd.Timestamp("2001-09-02")]
    li = li.assign(
        disc_price=li.l_extendedprice * (1 - li.l_discount),
        charge=li.l_extendedprice * (1 - li.l_discount) * (1 + li.l_tax),
    )
    return (
        li.groupby(["l_returnflag", "l_linestatus"])
        .agg(
            sum_qty=("l_quantity", "sum"),
            sum_base_price=("l_extendedprice", "sum"),
            sum_disc_price=("disc_price", "sum"),
            sum_charge=("charge", "sum"),
            avg_qty=("l_quantity", "mean"),
            avg_price=("l_extendedprice", "mean"),
            avg_disc=("l_discount", "mean"),
            count_order=("l_quantity", "size"),
        )
        .reset_index()
    )


def _events() -> pd.DataFrame:
    ev = _read("events")
    ev["hour_ts"] = ev["ts"].dt.floor("h")
    return ev


def kpi_hourly(ev: pd.DataFrame) -> pd.DataFrame:
    """(route, hour) stats + demand merge — the reference's view layer
    built with pandas groupby/merge (ml-job.py idiom)."""
    stats = (
        ev.groupby(["event_type", "hour_ts"])
        .agg(
            trip_update_events=("event_id", "size"),
            avg_delay_seconds=("value", "mean"),
            active_vehicles=("user_id", "nunique"),
        )
        .reset_index()
        .rename(columns={"event_type": "route_id"})
    )
    mapping = (
        ev[["user_id", "event_type"]]
        .drop_duplicates()
        .rename(columns={"user_id": "stop_id", "event_type": "route_id"})
    )
    flow = ev.rename(columns={"user_id": "stop_id"})[
        ["stop_id", "hour_ts", "value"]
    ]
    demand = (
        flow.merge(mapping, on="stop_id")
        .groupby(["route_id", "hour_ts"])["value"]
        .sum()
        .reset_index()
        .rename(columns={"value": "observed_passengers"})
    )
    return stats.merge(demand, on=["route_id", "hour_ts"], how="left")


def _clamp(x: float, lo: float, hi: float) -> float:
    return max(lo, min(hi, x))


def suggestions(kpi: pd.DataFrame) -> list[dict]:
    """The reference's decide() row loop (generate_suggestions.py:106-203):
    one Python dict per (route, hour), rule cascade per row."""
    kpi = kpi.copy()
    kpi["headway_min"] = 60.0 / kpi["active_vehicles"].clip(lower=1)
    out = []
    for _, row in kpi.iterrows():
        headway = float(row["headway_min"])
        tphr = 60.0 / headway if headway > 0 else None
        pred = row["observed_passengers"]
        pred = 0.0 if pred is None or (isinstance(pred, float) and math.isnan(pred)) else float(pred)
        ppt = pred / tphr if tphr else None
        delay_norm = _clamp(float(row["avg_delay_seconds"] or 0) / 600.0, 0, 1)
        cap_target = VEH_CAPACITY * TARGET_LOAD
        action, rec = "keep", headway
        if ppt is not None and ppt > cap_target:
            action = "increase_frequency"
            tphr_target = pred / cap_target
            raw = _clamp(60.0 / tphr_target if tphr_target > 0 else headway * 0.85,
                         MIN_HEADWAY, MAX_HEADWAY)
            rec = _clamp(headway * 0.65 + raw * 0.35, MIN_HEADWAY, MAX_HEADWAY)
        elif ppt is not None and ppt < VEH_CAPACITY * LOW_LOAD:
            action = "decrease_frequency"
            raw = _clamp(headway * 1.15, MIN_HEADWAY, MAX_HEADWAY)
            rec = _clamp(headway * 0.70 + raw * 0.30, MIN_HEADWAY, MAX_HEADWAY)
        over = _clamp(((ppt or 0.0) - cap_target) / cap_target, 0, 1)
        out.append(
            {
                "route_id": str(row["route_id"]),
                "hour_ts": row["hour_ts"],
                "action": action,
                "recommended_headway_min": rec,
                "priority_score": _clamp(0.60 * over + 0.20 * delay_norm, 0, 1),
            }
        )
    return out


def dedup_exact() -> pd.DataFrame:
    docs = _read("documents")
    docs["doc_hash"] = docs["text"].map(
        lambda t: hashlib.md5(" ".join(t.lower().split()).encode()).hexdigest()
    )
    return (
        docs.groupby("doc_hash")
        .agg(keep_doc_id=("doc_id", "min"), n_copies=("doc_id", "size"))
        .reset_index()
    )


def token_count() -> pd.DataFrame:
    docs = _read("documents")
    docs["n_ws_tokens"] = docs["text"].apply(lambda t: len(t.split()))
    return docs[["doc_id", "n_ws_tokens"]]


# --- Round-5 headline additions (same reference idiom: pandas frames,
# Python loops where the reference would loop) ---


def dau_rolling_wau() -> pd.DataFrame:
    """Per-day DAU + trailing-7-day WAU the way a pandas script does
    it: one boolean-mask filter + nunique PER DAY over the user-day
    frame (the loop a Spark window/explode-join replaces)."""
    ev = _read("events")
    ud = (
        ev.assign(day=ev["ts"].dt.floor("D"))[["user_id", "day"]]
        .drop_duplicates()
    )
    out = []
    for d in sorted(ud["day"].unique()):
        lo = d - pd.Timedelta(days=6)
        win = ud[(ud["day"] <= d) & (ud["day"] >= lo)]
        dau = ud[ud["day"] == d]["user_id"].nunique()
        wau = win["user_id"].nunique()
        out.append({"day": d, "dau": dau, "wau": wau,
                    "stickiness": round(dau / wau, 4)})
    return pd.DataFrame(out)


def q21_waiting_suppliers() -> pd.DataFrame:
    """Q21 with pandas merges/groupbys (the reference's join idiom)."""
    orders = _read("orders")
    li = _read("lineitem")
    supp = _read("supplier")
    nation = _read("nation")
    f = orders[orders["o_orderstatus"] == "F"][
        ["o_orderkey", "o_orderdate"]
    ]
    lo = li.merge(f, left_on="l_orderkey", right_on="o_orderkey")
    lo["is_late"] = (
        lo["l_shipdate"] > lo["o_orderdate"] + pd.Timedelta(days=60)
    ).astype(int)
    so = (
        lo.groupby(["l_orderkey", "l_suppkey"])["is_late"]
        .sum()
        .reset_index(name="late_lines")
    )
    po = so.groupby("l_orderkey").agg(
        n_supp=("l_suppkey", "size"),
        n_late_supp=("late_lines", lambda x: (x > 0).sum()),
    ).reset_index()
    qual = so[so["late_lines"] > 0].merge(po, on="l_orderkey")
    qual = qual[(qual["n_supp"] >= 2) & (qual["n_late_supp"] == 1)]
    sn = supp.merge(
        nation[nation["n_name"] == "NATION_3"],
        left_on="s_nationkey", right_on="n_nationkey",
    )
    j = qual.merge(sn, left_on="l_suppkey", right_on="s_suppkey")
    return (
        j.groupby("s_name")["late_lines"].sum()
        .reset_index(name="numwait")
        .sort_values(["numwait", "s_name"], ascending=[False, True])
        .head(100)
    )


def exact_substring_spans() -> pd.DataFrame:
    """Per-doc shared-window fractions with a Python dict two-pass —
    the hashlib-loop idiom of the reference's text handling."""
    docs = _read("documents")
    support: dict[str, set] = {}
    windows: dict[int, list] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        toks = " ".join(text.lower().split()).split(" ")
        ws = [
            hashlib.md5(" ".join(toks[i:i + 5]).encode()).hexdigest()
            for i in range(len(toks) - 4)
        ]
        windows[doc_id] = ws
        for w in ws:
            support.setdefault(w, set()).add(doc_id)
    out = []
    for doc_id, ws in windows.items():
        if not ws:
            continue
        shared = sum(1 for w in ws if len(support[w]) >= 2)
        out.append({
            "doc_id": doc_id, "n_windows": len(ws),
            "n_shared_windows": shared,
            "shared_frac": round(shared / len(ws), 6),
        })
    return pd.DataFrame(out)


def session_concurrency_hourly() -> pd.DataFrame:
    """Gap-based sessionization as the per-user Python loop the
    reference would write, then an hour-explode concurrency count."""
    ev = _read("events").sort_values(["user_id", "ts", "event_id"])
    gap = pd.Timedelta(minutes=30)
    hours: dict = {}
    for _, grp in ev.groupby("user_id"):
        start = last = None
        spans = []
        for ts in grp["ts"]:
            if start is None:
                start = last = ts
            elif ts - last > gap:
                spans.append((start, last))
                start = last = ts
            else:
                last = ts
        spans.append((start, last))
        for s, e in spans:
            h = s.floor("h")
            end = e.floor("h")
            while h <= end:
                hours[h] = hours.get(h, 0) + 1
                h += pd.Timedelta(hours=1)
    return pd.DataFrame(
        [{"hour_ts": h, "n_sessions": n} for h, n in sorted(hours.items())]
    )


def part_revenue_abc() -> pd.DataFrame:
    """ABC classification the pandas way: one groupby, a sort, a
    cumulative sum, vectorized class cuts (the reference best case —
    no row loop)."""
    li = _read("lineitem")
    units = (
        (li["l_extendedprice"] * (1 - li["l_discount"]) * 10000 + 0.5)
        .astype("int64")
        .groupby(li["l_partkey"])
        .sum()
        .sort_values(ascending=False, kind="mergesort")
    )
    run = units.cumsum()
    total = int(units.sum())
    cls = pd.Series("C", index=units.index)
    cls[run * 100 <= total * 95] = "B"
    cls[run * 100 <= total * 80] = "A"
    g = units.groupby(cls)
    return pd.DataFrame(
        {
            "n_parts": g.size(),
            "revenue": (g.sum() / 10000.0).round(2),
            "revenue_share": (g.sum() / total).round(6),
        }
    ).reset_index()


def basket_part_pairs() -> pd.DataFrame:
    """Market-basket pair counting with a per-order Python loop over
    itertools combinations — exactly how a pandas script mines pairs
    (the nested-loop idiom the Spark array expansion replaces)."""
    import itertools

    li = _read("lineitem")
    part = _read("part")[["p_partkey", "p_brand"]]
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    support: dict = {}
    for _, brands in j.groupby("l_orderkey")["p_brand"]:
        for a, b in itertools.combinations(sorted(set(brands)), 2):
            support[(a, b)] = support.get((a, b), 0) + 1
    top = sorted(support.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    return pd.DataFrame(
        [
            {"brand_a": a, "brand_b": b, "n_orders": n, "pair_rank": i + 1}
            for i, ((a, b), n) in enumerate(top)
        ]
    )


def open_orders_monthly() -> pd.DataFrame:
    """Monthly backlog via a per-order Python loop over the covered
    month range (the pandas interval-aggregation idiom)."""
    o = _read("orders")
    li = _read("lineitem")
    last = li.groupby("l_orderkey")["l_shipdate"].max()
    spans = o.set_index("o_orderkey").join(last.rename("last_ship"), how="inner")
    counts: dict = {}
    opened: dict = {}
    closed: dict = {}
    for start, end in zip(
        spans["o_orderdate"].dt.to_period("M"),
        spans["last_ship"].dt.to_period("M"),
    ):
        if end < start:
            end = start
        opened[start] = opened.get(start, 0) + 1
        closed[end] = closed.get(end, 0) + 1
        m = start
        while m <= end:
            counts[m] = counts.get(m, 0) + 1
            m += 1
    return pd.DataFrame(
        [
            {
                "month": m.to_timestamp(),
                "n_open": n,
                "n_opened": opened.get(m, 0),
                "n_closed": closed.get(m, 0),
            }
            for m, n in sorted(counts.items())
        ]
    )


def proto_feed_entities() -> pd.DataFrame:
    """Round-6 key: per-entity encode + parse loop, single process —
    the reference poller's exact idiom (ONE pb2 FeedMessage walked
    entity-by-entity in Python, poller.py:75-188). Calls the repo's one
    wire codec per entity so both engines pay identical per-row Python
    cost; the Spark column is the same work Arrow-batched and run in
    parallel across partitions."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from big_data_project_spark.sources.protofeed import (
        _ENTITY_COLS,
        _encode_entity,
        _entity_row,
    )

    ev = _read("events")
    out = []
    for eid, uid, etype, val, ts in zip(
        ev["event_id"], ev["user_id"], ev["event_type"], ev["value"],
        ev["ts"],
    ):
        buf = _encode_entity(
            int(eid),
            int(uid),
            None if pd.isna(etype) else str(etype),
            None if pd.isna(val) else float(val),
            int(pd.Timestamp(ts).value // 1_000_000_000),
        )
        out.append(_entity_row(buf))
    return pd.DataFrame(out, columns=_ENTITY_COLS)


def ivf_kmeans_cells() -> pd.DataFrame:
    """Round-6 key: single-process numpy Lloyd (the reference's ML jobs
    are driver-side sklearn/numpy loops, ml-job.py idiom) with the
    SAME deterministic init/rounding as the distributed fit."""
    import numpy as np

    emb = _read("embeddings").sort_values("vec_id")
    X = np.array(emb["embedding"].tolist(), dtype=np.float64)
    # centroids as cell -> vector: a cell that loses every member is
    # DROPPED for the next round (the distributed _km_means emits no
    # row for it), never carried forward stale
    cent = {c: X[c].copy() for c in range(16)}
    for _ in range(2):
        cells = sorted(cent)
        C = np.stack([cent[c] for c in cells])
        d2 = np.round(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 9)
        lab = d2.argmin(axis=1)  # ties -> lowest surviving cell
        cent = {
            c: np.round(X[lab == i].mean(axis=0), 6)
            for i, c in enumerate(cells)
            if (lab == i).any()
        }
    cells = sorted(cent)
    C = np.stack([cent[c] for c in cells])
    d2 = np.round(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 9)
    lab = d2.argmin(axis=1)
    rows = []
    for i, c in enumerate(cells):
        m = lab == i
        if not m.any():
            continue
        rows.append(
            {
                "cell": c,
                "n_members": int(m.sum()),
                "avg_dist2": round(float(d2[m, i].mean()), 6),
                "centroid_norm": round(
                    float(np.sqrt((cent[c] ** 2).sum())), 6
                ),
            }
        )
    return pd.DataFrame(rows)


def dsir_importance_weights() -> pd.DataFrame:
    """Round-6 key: hashed-unigram DSIR as a single-process
    Counter/hashlib loop — the reference's row-at-a-time idiom."""
    import math as _math

    docs = _read("documents")
    bucket_cache: dict[str, int] = {}

    def b_of(tok: str) -> int:
        b = bucket_cache.get(tok)
        if b is None:
            b = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 256
            bucket_cache[tok] = b
        return b

    import re as _re

    cnt_all = [0] * 256
    cnt_t = [0] * 256
    doc_buckets = []
    for text, source in zip(docs["text"], docs["source"]):
        toks = _re.sub(r"\s+", " ", text.strip().lower()).split(" ")
        bs = [b_of(t) for t in toks]
        doc_buckets.append(bs)
        tgt = source == "src0"
        for b in bs:
            cnt_all[b] += 1
            if tgt:
                cnt_t[b] += 1
    n_all, n_t = sum(cnt_all), sum(cnt_t)
    lr = [
        round(
            _math.log((cnt_t[b] + 1) / (n_t + 256))
            - _math.log((cnt_all[b] + 1) / (n_all + 256)),
            6,
        )
        for b in range(256)
    ]
    out = []
    for doc_id, bs in zip(docs["doc_id"], doc_buckets):
        w = round(sum(lr[b] for b in bs), 4)
        out.append(
            {
                "doc_id": doc_id,
                "n_tokens": len(bs),
                "log_weight": w,
                "selected": int(w > 0),
            }
        )
    return pd.DataFrame(out)


def bm25_retrieval_topk() -> pd.DataFrame:
    """Single-core BM25 the reference's pandas/dict way: tokenize every
    doc into Counters, loop the query terms per doc — the row-at-a-time
    idiom a psycopg2/pandas stack would use."""
    import math as _math
    from collections import Counter

    K1, B, TOP_K = 1.2, 0.75, 10
    queries = {
        0: ["spark", "query", "join"],
        1: ["customer", "table", "scan"],
        2: ["stream", "window", "batch"],
    }
    docs = _read("documents")
    toks = {
        int(r.doc_id): [
            t for t in " ".join(str(r.text).lower().split()).split(" ") if t
        ]
        for r in docs.itertuples()
    }
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    counters = {d: Counter(t) for d, t in toks.items()}
    rows = []
    for qid, terms in queries.items():
        df_t = {
            t: sum(1 for c in counters.values() if c[t] > 0) for t in terms
        }
        scores = []
        for d, c in counters.items():
            s = 0.0
            for t in terms:
                if c[t] == 0:
                    continue
                idf = _math.log(1.0 + (n - df_t[t] + 0.5) / (df_t[t] + 0.5))
                tfc = (c[t] * (K1 + 1.0)) / (
                    c[t] + K1 * (1.0 - B + B * (len(toks[d]) / avgdl))
                )
                s += idf * tfc
            if s > 0:
                scores.append((d, s))
        scores.sort(key=lambda kv: (-kv[1], kv[0]))
        for rank, (d, s) in enumerate(scores[:TOP_K], 1):
            rows.append(
                {
                    "query_id": qid,
                    "rank": rank,
                    "doc_id": d,
                    "score": round(s, 6),
                }
            )
    return pd.DataFrame(rows)


def bitext_margin_mining() -> pd.DataFrame:
    """Single-core margin mining as nested numpy loops over the full
    query x candidate cosine matrix (the notebook idiom)."""
    import numpy as np

    Q, K, TAU = 16, 4, 1.35
    emb = _read("embeddings").sort_values("vec_id")
    ids = emb["vec_id"].to_numpy()
    X = np.array(emb["embedding"].tolist(), dtype=np.float64)
    X = X / np.sqrt((X**2).sum(axis=1, keepdims=True))
    qm = (ids < 2 * Q) & (ids % 2 == 0)
    cm = ids % 2 == 1
    qid, cid = ids[qm], ids[cm]
    cos = np.round(X[qm] @ X[cm].T, 9)
    # fixed /K (not .mean() over the slice) to match the engine's
    # division by BITEXT_K even when fewer than K rows exist; this
    # replica is TIMING-only — numpy's pairwise dot order means cos9
    # can differ from the engine's sequential fold at a 9dp boundary
    avgk_q = {
        q: float(np.sort(cos[i])[::-1][:K].sum()) / K
        for i, q in enumerate(qid)
    }
    avgk_c = {
        c: float(np.sort(cos[:, j])[::-1][:K].sum()) / K
        for j, c in enumerate(cid)
    }
    rows = []
    for i, q in enumerate(qid):
        best, bm, bc = None, -1e9, 0.0
        for j, c in enumerate(cid):
            m = round(float(cos[i, j]) / ((avgk_q[q] + avgk_c[c]) / 2.0), 9)
            if m > bm or (m == bm and (best is None or c < best)):
                best, bm, bc = c, m, float(cos[i, j])
        j = int(np.where(cid == best)[0][0])
        mutual = qid[int(np.argmax(cos[:, j]))] == q
        rows.append(
            {
                "query_id": int(q),
                "match_id": int(best),
                "cosine": round(bc, 6),
                "margin": round(bm, 6),
                "mutual": bool(mutual),
                "accepted": bool(mutual and bm > TAU),
            }
        )
    return pd.DataFrame(rows)


def quality_classifier_score() -> pd.DataFrame:
    """Reference idiom: per-row apply computing the feature vector and
    sigmoid in Python (the pandas twin of a fastText-style scorer run
    row-at-a-time)."""
    docs = _read("documents")
    STOP = {"the", "a", "of", "and", "is"}

    def floor6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    out = []
    for _, r in docs.iterrows():
        toks = [t for t in " ".join(str(r["text"]).lower().split()).split(" ") if t]
        if not toks:
            continue
        n_chars = sum(len(t) for t in toks)
        stop = floor6(sum(t in STOP for t in toks) / len(toks))
        ttr = floor6(len(set(toks)) / len(toks))
        wlen = floor6(n_chars / len(toks))
        digit = floor6(
            sum(c in "0123456789" for t in toks for c in t) / n_chars
        )
        z = floor6(-2.0 + 6.0 * stop + 2.0 * ttr + 0.1 * wlen - 8.0 * digit)
        score = floor6(1.0 / (1.0 + math.exp(-z)))
        out.append(
            {
                "doc_id": r["doc_id"],
                "score": score,
                "keep": int(score >= 0.5),
            }
        )
    return pd.DataFrame(out).sort_values("doc_id")


def split_leakage_audit() -> pd.DataFrame:
    """Reference idiom: python dict of train shingles, then a per-test-doc
    membership loop (the single-node decontamination script shape)."""
    docs = _read("documents")

    def norm_toks(text: str) -> list[str]:
        return [t for t in " ".join(str(text).lower().split()).split(" ") if t]

    def bucket(text: str) -> int:
        norm = " ".join(str(text).lower().split())
        h = int(hashlib.md5(norm.encode()).hexdigest()[:15], 16)
        return h % 10

    train_sh: set[str] = set()
    tests = []
    for _, r in docs.iterrows():
        toks = norm_toks(r["text"])
        if len(toks) < 3:
            continue
        sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        if bucket(r["text"]) < 1:
            tests.append((r["doc_id"], sh))
        else:
            train_sh |= sh
    out = []
    for doc_id, sh in tests:
        leaked = sum(s in train_sh for s in sh)
        out.append(
            {
                "doc_id": doc_id,
                "n_shingles": len(sh),
                "n_leaked": leaked,
                "leak_ratio": math.floor(leaked / len(sh) * 1e6 + 0.5) / 1e6,
            }
        )
    return pd.DataFrame(out).sort_values("doc_id")


def mergeable_quantile_bins() -> pd.DataFrame:
    """Histogram-quantile sketch replica (vectorized pandas — the
    reference best case for this shape): per route, a 128-bin
    histogram + cumulative read-off at p50/p90/p99 midpoints, with the
    exact percentiles alongside (numpy interpolated, matching
    percentile/quantile_cont)."""
    import numpy as np

    QB = 128
    ev = _read("events")
    ev = ev[ev["event_type"].notna() & ev["value"].notna()]
    out = []
    for rid, g in ev.groupby("event_type"):
        v = g["value"].to_numpy(dtype=float)
        mn, mx, n = v.min(), v.max(), len(v)
        width = (mx - mn) / QB if mx > mn else 1.0
        bins = np.minimum(QB - 1, np.floor((v - mn) / width)).astype(int)
        hist = np.bincount(bins, minlength=QB)
        cum = hist.cumsum()

        def est(p):
            b = int(np.argmax(cum >= p * n))
            mid = mn + (b + 0.5) * width if mx > mn else mn
            return math.floor(mid * 1e6 + 0.5) / 1e6

        e50, e90, e99 = est(0.5), est(0.9), est(0.99)
        x50 = math.floor(np.quantile(v, 0.5) * 1e4 + 0.5) / 1e4
        x99 = math.floor(np.quantile(v, 0.99) * 1e4 + 0.5) / 1e4
        out.append(
            {
                "route_id": rid,
                "n_values": n,
                "est_p50": e50,
                "exact_p50": x50,
                "err_p50": math.floor(abs(e50 - x50) * 1e4 + 0.5) / 1e4,
                "est_p90": e90,
                "est_p99": e99,
                "exact_p99": x99,
                "err_p99": math.floor(abs(e99 - x99) * 1e4 + 0.5) / 1e4,
            }
        )
    return pd.DataFrame(out).sort_values("route_id")


def kmv_set_intersection() -> pd.DataFrame:
    """KMV theta-sketch replica in the reference idiom: hashlib md5
    per distinct (route, user) in a Python loop, per-route k smallest,
    pair loops for the sampled intersection and the exact overlap."""
    K = 64
    ev = _read("events")
    ev = ev[ev["event_type"].notna()]
    pairs = ev[["event_type", "user_id"]].drop_duplicates()
    by_route: dict[str, dict] = {}
    for rid, g in pairs.groupby("event_type"):
        us = []
        for u in g["user_id"]:
            h = int(
                hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:15], 16
            )
            us.append(((h + 1) / float(2**60), u))
        us.sort()
        kept = us[:K]
        theta = 1.0 if len(kept) < K else kept[-1][0]
        by_route[rid] = {
            "kept": {u: uu for uu, u in kept},
            "theta": theta,
            "users": set(g["user_id"]),
        }
    out = []
    rids = sorted(by_route)
    for i, a in enumerate(rids):
        for b in rids[i + 1 :]:
            ra, rb = by_route[a], by_route[b]
            tmin = min(ra["theta"], rb["theta"])
            common = 0
            for u, uu in ra["kept"].items():
                if u in rb["kept"] and uu < tmin:
                    common += 1
            exact = len(ra["users"] & rb["users"])
            est = common / tmin
            out.append(
                {
                    "route_a": a,
                    "route_b": b,
                    "n_common_sample": common,
                    "est_common": math.floor(est * 1e4 + 0.5) / 1e4,
                    "exact_common": exact,
                    "rel_error": (
                        math.floor((est - exact) / exact * 1e4 + 0.5) / 1e4
                        if exact > 0
                        else None
                    ),
                }
            )
    return pd.DataFrame(out)


def ams_f2_sketch() -> pd.DataFrame:
    """AMS F2 tug-of-war replica in the reference idiom: hashlib md5
    per (register, user) in Python loops — 64 sign draws per distinct
    (route, user) pair — then per-route register sums, group means,
    and the median of means."""
    R, G = 64, 8
    ev = _read("events")
    ev = ev[ev["event_type"].notna()]
    f = (
        ev.groupby(["event_type", "user_id"])
        .size()
        .reset_index(name="fu")
    )
    out = []
    for rid, g in f.groupby("event_type"):
        z = [0] * R
        exact = 0
        for _, row in g.iterrows():
            fu = int(row["fu"])
            exact += fu * fu
            u = row["user_id"]
            for r in range(R):
                h = int(
                    hashlib.md5(f"ams:{r}:{u}".encode()).hexdigest()[:15],
                    16,
                )
                if (h + 1) / float(2**60) < 0.5:
                    z[r] -= fu
                else:
                    z[r] += fu
        means = sorted(
            sum(zz * zz for zz in z[gi * (R // G):(gi + 1) * (R // G)])
            / float(R // G)
            for gi in range(G)
        )
        est = (means[G // 2 - 1] + means[G // 2]) / 2.0
        out.append(
            {
                "route_id": rid,
                "n_users": len(g),
                "exact_f2": exact,
                "est_f2": math.floor(est * 1e4 + 0.5) / 1e4,
                "rel_error": (
                    math.floor((est - exact) / exact * 1e4 + 0.5) / 1e4
                    if exact > 0
                    else None
                ),
            }
        )
    return pd.DataFrame(out).sort_values("route_id").reset_index(drop=True)


def main() -> None:
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}

    def timed(name, fn, *args):
        t0 = time.perf_counter()
        res = fn(*args)
        timings[name] = round(time.perf_counter() - t0, 3)
        rows[name] = len(res)
        return res

    timed("q1_pricing_summary", q1_pricing_summary)
    t0 = time.perf_counter()
    ev = _events()
    kpi = kpi_hourly(ev)
    timings["kpi_hourly"] = round(time.perf_counter() - t0, 3)
    rows["kpi_hourly"] = len(kpi)
    timed("suggestions", suggestions, kpi)
    timed("dedup_exact", dedup_exact)
    timed("token_count", token_count)
    timed("dau_rolling_wau", dau_rolling_wau)
    timed("q21_waiting_suppliers", q21_waiting_suppliers)
    timed("exact_substring_spans", exact_substring_spans)
    timed("session_concurrency_hourly", session_concurrency_hourly)
    timed("part_revenue_abc", part_revenue_abc)
    timed("basket_part_pairs", basket_part_pairs)
    timed("open_orders_monthly", open_orders_monthly)
    timed("proto_feed_entities", proto_feed_entities)
    timed("ivf_kmeans_cells", ivf_kmeans_cells)
    timed("dsir_importance_weights", dsir_importance_weights)
    timed("bm25_retrieval_topk", bm25_retrieval_topk)
    timed("bitext_margin_mining", bitext_margin_mining)
    timed("quality_classifier_score", quality_classifier_score)
    timed("split_leakage_audit", split_leakage_audit)
    timed("mergeable_quantile_bins", mergeable_quantile_bins)
    timed("kmv_set_intersection", kmv_set_intersection)
    timed("ams_f2_sketch", ams_f2_sketch)

    print(json.dumps({"sf_dir": SF_DIR, "queries": timings, "rows": rows}))


if __name__ == "__main__":
    main()
