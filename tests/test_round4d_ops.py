"""Brute-force oracles for the fourth-session round-4 additions (data
quality, Bloom runtime filter, join IVM, RRF fusion, MAD outliers,
stickiness, ACF, quality AUC, Heaps' law, weighted sampling). The driver
contract hash-checks these against DuckDB; here each answer is recomputed
in plain Python at sf0.001, so an error both SQL dialects share
identically would still be caught."""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from esvc_spark.queries.documents import (
    _HEAPS_K,
    _RRF_C,
    _RRF_NQ,
    _RRF_POOL,
    _RRF_TOP,
    _STOPWORDS,
    _WS_K,
    _WS_M,
    QUERIES as DOC_QUERIES,
)
from esvc_spark.queries.events import (
    _ACF_LAGS,
    _MAD_K,
    QUERIES as EV_QUERIES,
)
from esvc_spark.queries.relational import (
    _IVM_MOD,
    _RF_K,
    _RF_M,
    QUERIES as REL_QUERIES,
)


def _qlog2(x: int) -> int:
    e = x.bit_length() - 1
    return 16 * e + (16 * x) // (1 << e) - 16


def _h15(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _docs(sf_dir):
    t = pq.read_table(f"{sf_dir}/documents.parquet")
    return [
        dict(doc_id=i, text=x, lang=lg, source=src, n_chars=nc)
        for i, x, lg, src, nc in zip(
            t.column("doc_id").to_pylist(),
            t.column("text").to_pylist(),
            t.column("lang").to_pylist(),
            t.column("source").to_pylist(),
            t.column("n_chars").to_pylist(),
        )
    ]


def _events(sf_dir):
    t = pq.read_table(f"{sf_dir}/events.parquet")
    import pyarrow as pa

    raw = t.column("ts").cast(pa.int64()).to_pylist()
    div = 1000 if str(t.column("ts").type).startswith("timestamp[ns") else 1
    return [
        dict(event_id=e, user_id=u, event_type=ty, value=v, t_us=ts // div)
        for e, u, ty, v, ts in zip(
            t.column("event_id").to_pylist(),
            t.column("user_id").to_pylist(),
            t.column("event_type").to_pylist(),
            t.column("value").to_pylist(),
            raw,
        )
    ]


# ------------------------------------------------------------ dq checks


def test_dq_checks_brute_force(spark, sf_dir):
    li = pq.read_table(
        f"{sf_dir}/lineitem.parquet", columns=["l_quantity", "l_shipdate"]
    )
    orders = pq.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"]
    )
    cust = pq.read_table(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_acctbal"]
    )
    ev = pq.read_table(f"{sf_dir}/events.parquet", columns=["value"])
    lq = li.column("l_quantity").to_pylist()
    lsd = li.column("l_shipdate").to_pylist()
    ok = orders.column("o_orderkey").to_pylist()
    oc = orders.column("o_custkey").to_pylist()
    ckeys = set(cust.column("c_custkey").to_pylist())
    cab = cust.column("c_acctbal").to_pylist()
    evv = ev.column("value").to_pylist()
    expected = {
        ("lineitem", "quantity_in_1_50"): (
            len(lq), sum(1 for q in lq if q < 1 or q > 50)
        ),
        ("lineitem", "shipdate_complete"): (
            len(lsd), sum(1 for s in lsd if s is None)
        ),
        ("orders", "orderkey_unique"): (len(ok), len(ok) - len(set(ok))),
        ("orders", "custkey_ref_integrity"): (
            len(oc), sum(1 for c in oc if c not in ckeys)
        ),
        ("customer", "acctbal_in_bounds"): (
            len(cab), sum(1 for b in cab if b < -1000 or b > 10000)
        ),
        ("events", "value_positive"): (
            len(evv), sum(1 for v in evv if v <= 0)
        ),
    }
    rows = REL_QUERIES["q_dq_checks"](spark, sf_dir).collect()
    out = {
        (r["tbl"], r["check_name"]): (r["n_rows"], r["n_bad"]) for r in rows
    }
    assert out == expected
    for r in rows:
        assert r["bad_fraction"] == r["n_bad"] / r["n_rows"]
        assert r["passed"] == (1 if r["n_bad"] == 0 else 0)


# ------------------------------------------------------- Bloom runtime filter


def test_bloom_join_filter_brute_force(spark, sf_dir):
    cust = pq.read_table(
        f"{sf_dir}/customer.parquet",
        columns=["c_custkey", "c_mktsegment", "c_acctbal"],
    )
    orders = pq.read_table(f"{sf_dir}/orders.parquet", columns=["o_custkey"])
    dim = {
        k
        for k, seg, bal in zip(
            cust.column("c_custkey").to_pylist(),
            cust.column("c_mktsegment").to_pylist(),
            cust.column("c_acctbal").to_pylist(),
        )
        if seg == "BUILDING" and bal > 7000
    }

    def bits(key: int):
        return [_h15(f"rf{i}:{key}") % _RF_M for i in range(_RF_K)]

    words = defaultdict(int)
    for k in dim:
        for b in bits(k):
            words[b // 63] |= 1 << (b % 63)

    def member(key: int) -> bool:
        return all((words[b // 63] >> (b % 63)) & 1 for b in bits(key))

    facts = orders.column("o_custkey").to_pylist()
    n_pass = sum(1 for k in facts if member(k))
    n_true = sum(1 for k in facts if k in dim)
    row = REL_QUERIES["q_bloom_join_filter"](spark, sf_dir).collect()[0]
    assert row["n_dim_keys"] == len(dim)
    assert row["n_fact_rows"] == len(facts)
    assert row["n_bloom_pass"] == n_pass
    assert row["n_true_match"] == n_true
    assert row["n_false_pass"] == n_pass - n_true
    # Bloom filters never drop a true match — the load-bearing invariant
    assert row["n_false_drops"] == 0
    assert row["pruned_fraction"] == 1.0 - n_pass / len(facts)


# ----------------------------------------------------------------- join IVM


def test_ivm_join_brute_force(spark, sf_dir):
    orders = pq.read_table(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    cust = pq.read_table(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_mktsegment"]
    )
    seg = dict(
        zip(
            cust.column("c_custkey").to_pylist(),
            cust.column("c_mktsegment").to_pylist(),
        )
    )
    full = defaultdict(lambda: [0, Decimal(0)])
    for okey, ckey, tp in zip(
        orders.column("o_orderkey").to_pylist(),
        orders.column("o_custkey").to_pylist(),
        orders.column("o_totalprice").to_pylist(),
    ):
        if ckey not in seg:
            continue
        e = full[seg[ckey]]
        e[0] += 1
        e[1] += Decimal(tp).quantize(Decimal("0.01"), ROUND_HALF_UP)
    rows = REL_QUERIES["q_ivm_join"](spark, sf_dir).collect()
    assert {r["c_mktsegment"] for r in rows} == set(full)
    for r in rows:
        n, sp = full[r["c_mktsegment"]]
        # delta-maintained state must equal the full recompute exactly
        assert r["consistent"] == 1
        assert r["n_orders_maint"] == r["n_orders_full"] == n
        assert r["spend_maint"] == r["spend_full"] == float(sp)
    assert _IVM_MOD > 1  # the delta split is non-trivial


# ----------------------------------------------------------------- RRF fusion


def _dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def test_rrf_fusion_brute_force(spark, sf_dir):
    docs = _docs(sf_dir)
    toks = {d["doc_id"]: set(re.findall(r"\S+", d["text"])) for d in docs}
    emb_t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    embs = {
        v: [float(x) for x in e]
        for v, e in zip(
            emb_t.column("vec_id").to_pylist(),
            emb_t.column("embedding").to_pylist(),
        )
    }
    import math

    nrm = {v: math.sqrt(_dot(e, e)) for v, e in embs.items()}
    lex_rank, sem_rank = {}, {}
    for q in range(_RRF_NQ):
        scored = []
        for d, ts in toks.items():
            if d == q:
                continue
            inter = len(ts & toks[q])
            if inter == 0:
                continue
            jq = (inter * 1048576) // (len(toks[q]) + len(ts) - inter)
            scored.append((-jq, d))
        for rnk, (_, d) in enumerate(sorted(scored)[:_RRF_POOL], 1):
            lex_rank[(q, d)] = rnk
        if q in embs:
            sc = sorted(
                (-(_dot(embs[q], e) / (nrm[q] * nrm[v])), v)
                for v, e in embs.items()
                if v != q
            )
            for rnk, (_, v) in enumerate(sc[:_RRF_POOL], 1):
                sem_rank[(q, v)] = rnk
    expected = {}
    for q in range(_RRF_NQ):
        fused = []
        for key in {k for k in lex_rank if k[0] == q} | {
            k for k in sem_rank if k[0] == q
        }:
            rrf = 0
            if key in lex_rank:
                rrf += 1048576 // (_RRF_C + lex_rank[key])
            if key in sem_rank:
                rrf += 1048576 // (_RRF_C + sem_rank[key])
            fused.append((-rrf, key[1]))
        for rnk, (nrrf, d) in enumerate(sorted(fused)[:_RRF_TOP], 1):
            expected[(q, d)] = (
                lex_rank.get((q, d)),
                sem_rank.get((q, d)),
                -nrrf,
                rnk,
                -nrrf / 1048576.0,
            )
    out = {
        (r["query_id"], r["doc_id"]): (
            r["lex_rank"],
            r["sem_rank"],
            r["rrf_q"],
            r["fused_rank"],
            r["rrf_score"],
        )
        for r in DOC_QUERIES["q_doc_rrf_fusion"](spark, sf_dir).collect()
    }
    assert out == expected


# -------------------------------------------------------------- MAD outliers


def test_mad_outliers_brute_force(spark, sf_dir):
    ev = _events(sf_dir)
    by_type = defaultdict(list)
    for e in ev:
        by_type[e["event_type"]].append((e["value"], e["event_id"]))
    expected = {}
    for ty, vals in by_type.items():
        n = len(vals)
        med = sorted(vals)[(n + 1) // 2 - 1][0]
        devs = sorted((abs(v - med), eid) for v, eid in vals)
        mad = devs[(n + 1) // 2 - 1][0]
        n_out = sum(1 for d, _ in devs if d > _MAD_K * mad)
        expected[ty] = (n, med, mad, n_out, n_out / n)
    out = {
        r["event_type"]: (
            r["n_events"], r["med"], r["mad"], r["n_outliers"],
            r["outlier_rate"],
        )
        for r in EV_QUERIES["q_ev_mad_outliers"](spark, sf_dir).collect()
    }
    assert out == expected


# --------------------------------------------------------------- stickiness


def test_stickiness_brute_force(spark, sf_dir):
    ev = _events(sf_dir)
    day_us = 86_400_000_000
    ud = {(e["t_us"] // day_us, e["user_id"]) for e in ev}
    d0 = min(d for d, _ in ud)
    d1 = max(d for d, _ in ud)
    expected = {}
    for d in range(d0, d1 + 1):
        dau = sum(1 for dd, _ in ud if dd == d)
        wau = len({u for dd, u in ud if d - 6 <= dd <= d})
        expected[d] = (dau, wau, (dau / wau) if wau else 0.0)
    import datetime as dt

    rows = EV_QUERIES["q_ev_stickiness"](spark, sf_dir).collect()
    # attach UTC before .timestamp(): a naive datetime would be read in
    # the HOST timezone (test_streaming.py precedent)
    out = {
        r["day"].replace(tzinfo=dt.timezone.utc).timestamp() // 86400: (
            r["dau"], r["wau7"], r["stickiness"]
        )
        for r in rows
    }
    assert out == {float(d): v for d, v in expected.items()}
    # every observed day's WAU >= its DAU (containment of windows)
    assert all(r["wau7"] >= r["dau"] for r in rows)


# ---------------------------------------------------------------------- ACF


def test_acf_brute_force(spark, sf_dir):
    ev = _events(sf_dir)
    hr = 3_600_000_000
    hs = [e["t_us"] // hr for e in ev]
    h0, h1 = min(hs), max(hs)
    from collections import Counter

    cnt = Counter(hs)
    c = [cnt.get(h, 0) for h in range(h0, h1 + 1)]
    n, s = len(c), sum(c)
    den = sum((n * x - s) * (n * x - s) for x in c)
    expected = {}
    for k in _ACF_LAGS:
        num = sum(
            (n * c[t] - s) * (n * c[t + k] - s) for t in range(n - k)
        )
        expected[k] = (n, n - k, num / den)
    out = {
        r["lag"]: (r["n_hours"], r["n_pairs"], r["acf"])
        for r in EV_QUERIES["q_ev_acf"](spark, sf_dir).collect()
    }
    assert out == expected
    # lag-24 seasonality in the synthetic stream should be real and positive
    assert out[24][2] == expected[24][2]


# ------------------------------------------------------------- quality AUC


def _qscore(d):
    toks = re.findall(r"\S+", d["text"])
    if not toks:
        return None
    n_stop = sum(1 for t in toks if t in _STOPWORDS)
    n_punct = len(d["text"]) - len(re.sub(r"[.,!?;:]", "", d["text"]))
    return (
        (n_stop / len(toks)) * 2.0
        + (1.0 - n_punct / d["n_chars"])
        + (1.0 if 20 <= len(toks) <= 1000 else 0.0)
    )


def test_quality_auc_brute_force(spark, sf_dir):
    docs = _docs(sf_dir)
    scored = [
        (s, 1 if d["lang"] == "en" else 0)
        for d in docs
        if (s := _qscore(d)) is not None
    ]
    pos = [s for s, l in scored if l == 1]
    neg = [s for s, l in scored if l == 0]
    wins = sum(1 for p in pos for q in neg if p > q)
    ties = sum(1 for p in pos for q in neg if p == q)
    u2 = 2 * wins + ties
    row = DOC_QUERIES["q_doc_quality_auc"](spark, sf_dir).collect()[0]
    assert (row["n_pos"], row["n_neg"]) == (len(pos), len(neg))
    assert row["u2"] == u2
    assert row["auc"] == u2 / (2 * len(pos) * len(neg))
    assert row["gini"] == u2 / (len(pos) * len(neg)) - 1.0


# --------------------------------------------------------------- Heaps' law


def test_heaps_brute_force(spark, sf_dir):
    docs = _docs(sf_dir)
    first = {}
    for d in docs:
        for t in re.findall(r"\S+", d["text"]):
            if t not in first or d["doc_id"] < first[t]:
                first[t] = d["doc_id"]
    nd = len(docs)
    pts = []
    for k in range(1, _HEAPS_K + 1):
        n_docs = (nd * k) // _HEAPS_K
        vocab = sum(1 for fr in first.values() if fr < n_docs)
        pts.append((k, n_docs, vocab, _qlog2(n_docs), _qlog2(vocab)))
    m = len(pts)
    sx = sum(p[3] for p in pts)
    sy = sum(p[4] for p in pts)
    sxy = sum(p[3] * p[4] for p in pts)
    sxx = sum(p[3] * p[3] for p in pts)
    beta = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    rows = DOC_QUERIES["q_doc_heaps"](spark, sf_dir).collect()
    out = [
        (r["k"], r["n_docs"], r["vocab"], r["x_q"], r["y_q"]) for r in rows
    ]
    assert out == pts
    assert all(r["heaps_beta"] == beta for r in rows)
    # sub-linear vocabulary growth: beta < 1 always; the synthetic corpus
    # draws from a CLOSED vocabulary, so it saturates immediately (beta=0)
    assert 0.0 <= beta < 1.0
    vs = [p[2] for p in pts]
    assert all(a <= b for a, b in zip(vs, vs[1:]))


# ------------------------------------------------------- weighted sampling


def test_weighted_sample_brute_force(spark, sf_dir):
    docs = _docs(sf_dir)
    raced = []
    for d in docs:
        if d["n_chars"] <= 0:
            continue
        u = _h15(f"ws:{d['doc_id']}") % _WS_M + 1
        nlog_q = _qlog2(_WS_M) - _qlog2(u)
        raced.append(
            (nlog_q / d["n_chars"], d["doc_id"], d["n_chars"], u, nlog_q)
        )
    top = sorted(raced)[:_WS_K]
    expected = {
        rnk: (doc, nc, u, nq, key)
        for rnk, (key, doc, nc, u, nq) in enumerate(top, 1)
    }
    out = {
        r["sample_rank"]: (
            r["doc_id"], r["n_chars"], r["u_int"], r["nlog_q"], r["race_key"]
        )
        for r in DOC_QUERIES["q_doc_weighted_sample"](spark, sf_dir).collect()
    }
    assert out == expected
    # heavier docs win the race more often than uniform: the sampled mean
    # weight must exceed the corpus mean weight
    corpus_mean = sum(r[2] for r in raced) / len(raced)
    sample_mean = sum(v[1] for v in expected.values()) / len(expected)
    assert sample_mean > corpus_mean


# ------------------------------------------------------------ Benford audit


def test_benford_brute_force(spark, sf_dir):
    import math

    t = pq.read_table(f"{sf_dir}/orders.parquet", columns=["o_totalprice"])
    prices = [p for p in t.column("o_totalprice").to_pylist() if p > 0]
    digits = [int(str(int(math.floor(p)))[0]) for p in prices]
    from collections import Counter

    hist = Counter(digits)
    n = len(digits)
    expected = {}
    for d in sorted(hist):
        p = math.log10(1 + 1 / d)
        obs = hist[d]
        expected[d] = (obs, p, obs / n, (obs - n * p) ** 2 / (n * p))
    chi2 = 0.0
    for d in sorted(expected):
        chi2 += expected[d][3]
    rows = REL_QUERIES["q_benford_audit"](spark, sf_dir).collect()
    out = {
        r["digit"]: (r["n_obs"], r["exp_share"], r["obs_share"],
                     r["chi2_term"])
        for r in rows
    }
    assert out == expected
    assert all(r["chi2_total"] == chi2 for r in rows)


# ----------------------------------------------------------- Z-order layout


def test_zorder_brute_force(spark, sf_dir):
    from esvc_spark.queries.relational import (
        _ZO_BITS, _ZO_CHUNKS, _ZO_CUST_SLICES, _ZO_PRED_DAYS,
    )

    t = pq.read_table(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_custkey", "o_orderdate"],
    )
    import datetime

    epoch = datetime.date(1970, 1, 1)
    rows_in = [
        (ak, ck, (od.date() - epoch).days)
        for ak, ck, od in zip(
            t.column("o_orderkey").to_pylist(),
            t.column("o_custkey").to_pylist(),
            t.column("o_orderdate").to_pylist(),
        )
    ]
    nb = 1 << _ZO_BITS
    dmin = min(r[2] for r in rows_in)
    dmax = max(r[2] for r in rows_in)
    cmin = min(r[1] for r in rows_in)
    cmax = max(r[1] for r in rows_in)

    def zval(day, ck):
        db = ((day - dmin) * nb) // (dmax - dmin + 1)
        cb = ((ck - cmin) * nb) // (cmax - cmin + 1)
        z = 0
        for i in range(_ZO_BITS):
            z += ((db >> i) & 1) << (2 * i + 1)
            z += ((cb >> i) & 1) << (2 * i)
        return z

    layouts = {
        "arrival": sorted(rows_in, key=lambda r: (r[0], r[0])),
        "day": sorted(rows_in, key=lambda r: (r[2], r[0])),
        "zorder": sorted(rows_in, key=lambda r: (zval(r[2], r[1]), r[0])),
    }
    n = len(rows_in)

    def ntile_chunks(ordered):
        # SQL NTILE: first (n % k) tiles get ceil(n/k) rows
        k = _ZO_CHUNKS
        base, extra = divmod(n, k)
        chunks, idx = [], 0
        for c in range(k):
            sz = base + (1 if c < extra else 0)
            if sz:
                chunks.append(ordered[idx:idx + sz])
            idx += sz
        return chunks

    zones = {}
    for name, ordered in layouts.items():
        zones[name] = [
            (
                min(r[2] for r in ch), max(r[2] for r in ch),
                min(r[1] for r in ch), max(r[1] for r in ch),
            )
            for ch in ntile_chunks(ordered)
        ]
    pd_ = [
        (dmin + p * _ZO_PRED_DAYS, dmin + p * _ZO_PRED_DAYS + _ZO_PRED_DAYS - 1)
        for p in range((dmax - dmin) // _ZO_PRED_DAYS + 1)
    ]
    pc = [
        (
            cmin + (q * (cmax - cmin + 1)) // _ZO_CUST_SLICES,
            cmin + ((q + 1) * (cmax - cmin + 1)) // _ZO_CUST_SLICES - 1,
        )
        for q in range(_ZO_CUST_SLICES)
    ]
    preds = {
        "box": [(a, b, c, d) for a, b in pd_ for c, d in pc],
        "day_1d": [(a, b, cmin, cmax) for a, b in pd_],
    }
    expected = {}
    for name, zs in zones.items():
        for wc, ps in preds.items():
            scanned = sum(
                1
                for (dlo, dhi, clo, chi) in zs
                for (pdlo, pdhi, pclo, pchi) in ps
                if dlo <= pdhi and dhi >= pdlo and clo <= pchi and chi >= pclo
            )
            expected[(name, wc)] = (
                len(zs), len(ps), scanned,
                1.0 - scanned / (len(zs) * len(ps)),
            )
    out = {
        (r["layout"], r["wclass"]): (
            r["n_chunks"], r["n_preds"], r["chunks_scanned"], r["skip_ratio"]
        )
        for r in REL_QUERIES["q_zorder_layout"](spark, sf_dir).collect()
    }
    assert out == expected
    # the layout story must hold: z-order beats arrival on box queries
    assert out[("zorder", "box")][3] > out[("arrival", "box")][3]


# ------------------------------------------------------------- calibration


def test_calibration_brute_force(spark, sf_dir):
    docs = _docs(sf_dir)
    from esvc_spark.queries.documents import _CAL_BINS

    agg = defaultdict(lambda: [0, 0])
    for d in docs:
        s = _qscore(d)
        if s is None:
            continue
        b = min(max(int(s * 2 // 1), 0), _CAL_BINS - 1)
        agg[b][0] += 1
        agg[b][1] += 1 if d["lang"] == "en" else 0
    expected = {
        b: (b / 2.0, (b + 1) / 2.0, n, ne, ne / n)
        for b, (n, ne) in agg.items()
    }
    out = {
        r["bin"]: (
            r["score_lo"], r["score_hi"], r["n_docs"], r["n_en"], r["en_rate"]
        )
        for r in DOC_QUERIES["q_doc_calibration"](spark, sf_dir).collect()
    }
    assert out == expected


# ------------------------------------------------------------- bootstrap CI


def test_bootstrap_ci_brute_force(spark, sf_dir):
    from esvc_spark.queries.events import _BS_B, _BS_M, _BS_T

    ev = _events(sf_dir)
    convs = [(e["event_id"], 1 if e["event_type"] == "purchase" else 0)
             for e in ev]
    rates = []
    for b in range(_BS_B):
        num = den = 0
        for eid, cv in convs:
            u = _h15(f"bs{b}:{eid}") % _BS_M
            w = next(
                (k for k, t in enumerate(_BS_T) if u < t), len(_BS_T)
            )
            den += w
            num += w * cv
        rates.append((num / den, b))
    rates.sort()
    row = EV_QUERIES["q_ev_bootstrap_ci"](spark, sf_dir).collect()[0]
    n_conv = sum(cv for _, cv in convs)
    assert row["n_events"] == len(convs)
    assert row["n_conv"] == n_conv
    assert row["point_rate"] == n_conv / len(convs)
    assert row["n_replicates"] == _BS_B
    assert row["ci_lo"] == rates[1][0]
    assert row["ci_hi"] == rates[_BS_B - 2][0]
    # the interval must bracket the point estimate for a sane resample
    assert row["ci_lo"] <= row["point_rate"] <= row["ci_hi"]


# ----------------------------------------------------------------- A/B test


def test_ab_test_brute_force(spark, sf_dir):
    import math

    from esvc_spark.queries.events import _AB_CONV_MIN, _AB_ZCRIT

    ev = _events(sf_dir)
    per_user = defaultdict(int)
    for e in ev:
        per_user[e["user_id"]] += 1 if e["event_type"] == "purchase" else 0
    arms = {0: [0, 0], 1: [0, 0]}
    for u, np_ in per_user.items():
        v = _h15(f"ab:{u}") % 2
        arms[v][0] += 1
        arms[v][1] += 1 if np_ >= _AB_CONV_MIN else 0
    (n_a, c_a), (n_b, c_b) = arms[0], arms[1]
    ra, rb = c_a / n_a, c_b / n_b
    pp = (c_a + c_b) / (n_a + n_b)
    var = pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)
    z = (ra - rb) / math.sqrt(var) if var > 0 else 0.0
    row = EV_QUERIES["q_ev_ab_test"](spark, sf_dir).collect()[0]
    assert (row["n_a"], row["conv_a"], row["n_b"], row["conv_b"]) == (
        n_a, c_a, n_b, c_b,
    )
    assert row["rate_a"] == ra and row["rate_b"] == rb
    assert row["abs_lift"] == ra - rb
    assert row["z_score"] == z
    assert row["significant"] == (1 if abs(z) > _AB_ZCRIT else 0)
    # the hash split must be a genuine A/A on synthetic data: both arms
    # populated and conversion non-degenerate
    assert n_a > 0 and n_b > 0
    assert 0 < c_a + c_b < n_a + n_b


# ------------------------------------------------------------- lang-id eval


def test_langid_eval_brute_force(spark, sf_dir):
    from esvc_spark.queries.documents import QUERIES as DQ

    preds = [
        (r["lang"], r["pred_lang"])
        for r in DQ["q_doc_lang_id"](spark, sf_dir).collect()
    ]
    per_true = defaultdict(lambda: [0, 0])
    per_pred = defaultdict(int)
    for lg, pd in preds:
        per_true[lg][0] += 1
        per_true[lg][1] += 1 if pd == lg else 0
        per_pred[pd] += 1
    n_total = len(preds)
    n_right = sum(c for _, c in per_true.values())
    expected = {}
    for lg, (n, c) in per_true.items():
        npred = per_pred.get(lg, 0)
        rec = c / n
        prec = c / npred if npred > 0 else 0.0
        f1 = 2 * prec * rec / (prec + rec) if (rec + prec) > 0 else 0.0
        expected[lg] = (n, c, npred, rec, prec, f1, n_right / n_total)
    out = {
        r["lang"]: (
            r["n_docs"], r["n_correct"], r["n_predicted"], r["recall"],
            r["precision"], r["f1"], r["overall_accuracy"],
        )
        for r in DOC_QUERIES["q_doc_langid_eval"](spark, sf_dir).collect()
    }
    assert out == expected


# -------------------------------------------------------- audio landmarks


def test_audio_match_brute_force(spark, sf_dir):
    from esvc_spark.queries.multimodal import (
        _AM_CLIP_HI, _AM_CLIP_LO, _AM_DELTAS, _AM_QMAX, _AUDIO_WIN,
    )

    docs = _docs(sf_dir)
    peaks = {}
    for d in docs:
        if d["doc_id"] % 3 != 1:  # kind != audio
            continue
        t = d["text"]
        n_w = max((len(t) + _AUDIO_WIN - 1) // _AUDIO_WIN, 1)
        peaks[d["doc_id"]] = [
            max((ord(c) for c in t[i * _AUDIO_WIN:(i + 1) * _AUDIO_WIN]),
                default=0)
            for i in range(n_w)
        ]
    lm = defaultdict(list)  # (f1,f2,delta) -> [(doc, t)]
    for doc, ps in peaks.items():
        for t in range(len(ps)):
            for dl in _AM_DELTAS:
                if t + dl < len(ps):
                    lm[(ps[t], ps[t + dl], dl)].append((doc, t))
    expected = {}
    for q, ps in peaks.items():
        if q >= _AM_QMAX:
            continue
        votes = defaultdict(int)
        for t in range(_AM_CLIP_LO, min(_AM_CLIP_HI + 1, len(ps))):
            for dl in _AM_DELTAS:
                if t + dl < len(ps) and t <= _AM_CLIP_HI - dl:
                    for doc, tc in lm[(ps[t], ps[t + dl], dl)]:
                        votes[(doc, tc - (t - _AM_CLIP_LO))] += 1
        if not votes:
            continue
        (doc, off), v = min(
            votes.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected[q] = (
            doc, off, v, 1 if (doc == q and off == _AM_CLIP_LO) else 0
        )
    from esvc_spark.queries.multimodal import QUERIES as MM_QUERIES

    out = {
        r["query_id"]: (
            r["matched_doc"], r["match_offset"], r["votes"], r["self_match"]
        )
        for r in MM_QUERIES["q_mm_audio_match"](spark, sf_dir).collect()
    }
    assert out == expected
    # with full-length clips the constellation must localize its source
    full = [q for q, ps in peaks.items()
            if q < _AM_QMAX and len(ps) > _AM_CLIP_HI + max(_AM_DELTAS)]
    assert all(out[q][3] == 1 for q in full if q in out)


# ----------------------------------------------------------- b-bit minhash


def test_bbit_minhash_brute_force(spark, sf_dir):
    from esvc_spark.queries.documents import (
        _BBIT, _N_PERM, _P, _PERMS, _SHINGLE,
    )

    docs = _docs(sf_dir)
    shingles = {}
    for d in docs:
        w = re.findall(r"\S+", d["text"])
        shingles[d["doc_id"]] = {
            " ".join(w[i:i + _SHINGLE]) for i in range(len(w) - _SHINGLE + 1)
        }
    sigs = {}
    for doc, sh in shingles.items():
        if not sh:
            continue
        hs = [_h15(s) % _P for s in sh]
        sigs[doc] = [min((a * h + b) % _P for h in hs) for a, b in _PERMS]
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in __import__("esvc_spark.queries.documents",
                            fromlist=["QUERIES"]).QUERIES[
            "q_doc_bbit_minhash"](spark, sf_dir).collect()
    }
    corr = _N_PERM // (1 << _BBIT)
    for (a, b), r in rows.items():
        sa, sb = sigs[a], sigs[b]
        full = sum(1 for i in range(_N_PERM) if sa[i] == sb[i])
        bb = sum(
            1 for i in range(_N_PERM)
            if sa[i] % (1 << _BBIT) == sb[i] % (1 << _BBIT)
        )
        inter = len(shingles[a] & shingles[b])
        uni = len(shingles[a] | shingles[b])
        assert r["sig_matches"] == full
        assert r["bb_matches"] == bb
        assert r["est_full"] == full / _N_PERM
        assert r["est_bbit"] == max(bb - corr, 0) / (_N_PERM - corr)
        assert r["exact_jaccard"] == inter / uni
        # b-bit matches dominate full matches (low bits agree whenever
        # the whole value does)
        assert bb >= full


# ---------------------------------------------------- histogram selectivity


def test_histogram_selectivity_brute_force(spark, sf_dir):
    from esvc_spark.queries.relational import _HS_BUCKETS, _HS_PREDS

    t = pq.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_totalprice"]
    )
    vals = sorted(
        zip(t.column("o_totalprice").to_pylist(),
            t.column("o_orderkey").to_pylist())
    )
    n = len(vals)
    marks = [(n * k) // _HS_BUCKETS for k in range(1, _HS_BUCKETS + 1)]
    ubs = [vals[rn - 1][0] for rn in marks]
    heights = [marks[0]] + [marks[i] - marks[i - 1]
                            for i in range(1, _HS_BUCKETS)]
    vmin, vmax = vals[0][0], vals[-1][0]
    preds = [
        (vmin + float(p) * (vmax - vmin) / _HS_PREDS,
         vmin + float(p + 1) * (vmax - vmin) / _HS_PREDS)
        for p in range(_HS_PREDS)
    ]
    expected = {}
    for p, (plo, phi) in enumerate(preds):
        est = 0.0
        for k in range(_HS_BUCKETS):
            lb = ubs[k - 1] if k > 0 else vmin
            ub = ubs[k]
            if ub == lb:
                frac = 1.0 if (plo <= ub < phi) else 0.0
            else:
                frac = max(0.0, (min(phi, ub) - max(plo, lb)) / (ub - lb))
            est += min(frac, 1.0) * heights[k]
        true = sum(1 for v, _ in vals if plo <= v < phi)
        q = 0.0 if true == 0 else max(est / true, true / max(est, 1e-9))
        expected[p] = (plo, phi, est, true, q)
    out = {
        r["p"]: (r["plo"], r["phi"], r["est_rows"], r["true_rows"],
                 r["q_error"])
        for r in REL_QUERIES["q_histogram_selectivity"](
            spark, sf_dir).collect()
    }
    assert out == expected
    # positional-boundary invariant: bucket heights partition the table
    assert sum(heights) == n


# ----------------------------------------------------- join-cardinality


def test_join_card_audit_brute_force(spark, sf_dir):
    ev = pq.read_table(f"{sf_dir}/events.parquet", columns=["user_id"])
    orders = pq.read_table(f"{sf_dir}/orders.parquet", columns=["o_custkey"])
    from collections import Counter

    r = Counter(ev.column("user_id").to_pylist())
    s = Counter(orders.column("o_custkey").to_pylist())
    n_r, n_s = sum(r.values()), sum(s.values())
    true = sum(c * s.get(k, 0) for k, c in r.items())
    est = n_r * n_s / max(len(r), len(s))
    row = REL_QUERIES["q_join_card_audit"](spark, sf_dir).collect()[0]
    assert (row["n_r"], row["n_s"], row["d_r"], row["d_s"]) == (
        n_r, n_s, len(r), len(s),
    )
    assert row["true_size"] == true
    assert row["est_uniform"] == est
    assert row["q_error"] == (
        0.0 if true == 0 else max(est / true, true / est)
    )


# ----------------------------------------------------- watermark planning


def test_watermark_plan_brute_force(spark, sf_dir):
    from esvc_spark.queries.events import _WM_DELAYS_S, _WM_JITTER_US

    ev = _events(sf_dir)
    arr = sorted(
        (e["t_us"] + _h15(f"wm:{e['event_id']}") % _WM_JITTER_US,
         e["event_id"], e["t_us"])
        for e in ev
    )
    lates, mx = [], -1 << 62
    for _, _, t in arr:
        mx = max(mx, t)
        lates.append(mx - t)
    expected = {
        d: (len(lates), sum(1 for l in lates if l > d * 1_000_000),
            max(lates))
        for d in _WM_DELAYS_S
    }
    out = {
        r["delay_s"]: (r["n_events"], r["n_dropped"], r["max_late_us"])
        for r in EV_QUERIES["q_ev_watermark_plan"](spark, sf_dir).collect()
    }
    assert out == expected
    # monotone: a longer delay never drops more
    ds = sorted(expected)
    assert all(
        expected[a][1] >= expected[b][1] for a, b in zip(ds, ds[1:])
    )


# --------------------------------------------------------- encoding advisor


def test_encoding_advisor_brute_force(spark, sf_dir):
    from esvc_spark.queries.relational import _ENC_COLS

    t = pq.read_table(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", *_ENC_COLS],
    )
    ak = t.column("o_orderkey").to_pylist()
    expected = {}
    for col in _ENC_COLS:
        vs = [str(v) for v in t.column(col).to_pylist()]
        for ordering in ("arrival", "sorted"):
            if ordering == "arrival":
                seq = [v for _, v in sorted(zip(ak, vs))]
            else:
                seq = [v for v, _ in sorted(zip(vs, ak))]
            n = len(seq)
            d = len(set(seq))
            runs = sum(
                1 for i, v in enumerate(seq) if i == 0 or seq[i - 1] != v
            )
            plain = sum(len(v) for v in seq)
            bits = 1 if d <= 1 else (d - 1).bit_length()
            expected[(col, ordering)] = (
                n, d, runs, plain, bits,
                (n * bits + 7) // 8,
                (n * bits + 7) // 8 + d * 16,
                runs * ((bits + 7) // 8) + runs * 2 + d * 16,
            )
    out = {
        (r["column_name"], r["ordering"]): (
            r["n"], r["d"], r["runs"], r["plain_bytes"], r["code_bits"],
            r["dict_bytes_codes"], r["dict_bytes"], r["rle_dict_bytes"],
        )
        for r in REL_QUERIES["q_encoding_advisor"](spark, sf_dir).collect()
    }
    assert out == expected
    # sorting can only reduce (or keep) the run count
    for col in _ENC_COLS:
        assert expected[(col, "sorted")][2] <= expected[(col, "arrival")][2]


def test_encoding_advisor_brute_force_two_phase(spark, sf_dir, monkeypatch):
    """The same oracle with the size gate at 0: every ordering runs the
    range-partitioned run count and its partition-boundary correction,
    which no sf0.001 input reaches otherwise."""
    from pyspark.sql import functions as F

    from esvc_spark.catalog import table
    from esvc_spark.core import spark_engine
    from esvc_spark.queries.relational import _ordered_runs

    monkeypatch.setattr(spark_engine, "TWO_PHASE_MIN_ROWS", 0)
    # a low-NDV column sorted by value spans partition boundaries inside
    # runs, so the correction is really applied
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ak"), F.col("o_orderstatus").alias("v")
    )
    assert _ordered_runs(spark, orders, "v", n_rows=1)[1] > 0
    test_encoding_advisor_brute_force(spark, sf_dir)


# ------------------------------------------------------------ GDPR erasure


def test_gdpr_erasure_brute_force(spark, sf_dir):
    from esvc_spark.queries.events import _GDPR_MOD

    ev = _events(sf_dir)
    expected = {}
    for e in ev:
        erase = _h15(f"gdpr:{e['user_id']}") % _GDPR_MOD == 0
        d = expected.setdefault(e["event_type"], [0, 0, 0, 0])
        d[0] += 1
        if erase:
            d[1] += 1
        else:
            d[2] += 1
            d[3] ^= e["event_id"]
    out = {
        r["event_type"]: (
            r["n_before"], r["n_erased"], r["n_after"], r["survivor_xor"],
            r["n_residual"], r["compliant"],
        )
        for r in EV_QUERIES["q_ev_gdpr_erasure"](spark, sf_dir).collect()
    }
    assert out == {
        ty: (b, er, af, xr, 0, 1) for ty, (b, er, af, xr) in expected.items()
    }
    # the cohort should be non-empty wherever the brute force found members
    if any(er for _, (_, er, _, _) in expected.items()):
        assert sum(v[1] for v in out.values()) > 0


# ------------------------------------------------------------- burst Viterbi


def test_bursts_brute_force(spark, sf_dir):
    from esvc_spark.queries.events import _BURST_GAMMA

    ev = _events(sf_dir)
    hr = 3_600_000_000
    hs = [e["t_us"] // hr for e in ev]
    h0, h1 = min(hs), max(hs)
    from collections import Counter

    cnt = Counter(hs)
    cs = [cnt.get(h, 0) for h in range(h0, h1 + 1)]
    n, s_tot = len(cs), sum(cs)
    q_s, q_2s, q_n = _qlog2(s_tot), _qlog2(2 * s_tot), _qlog2(n)

    def cost(st, c):
        if st == 0:
            return (16 * s_tot) // n - c * (q_s - q_n)
        return (16 * 2 * s_tot) // n - c * (q_2s - q_n)

    d = [(cost(0, cs[0]), cost(1, cs[0]) + _BURST_GAMMA)]
    for t in range(1, n):
        d0, d1 = d[-1]
        d.append((cost(0, cs[t]) + min(d0, d1),
                  cost(1, cs[t]) + min(d0 + _BURST_GAMMA, d1)))
    st = [0] * n
    st[n - 1] = 0 if d[n - 1][0] <= d[n - 1][1] else 1
    for t in range(n - 2, -1, -1):
        if st[t + 1] == 1:
            st[t] = 0 if d[t][0] + _BURST_GAMMA <= d[t][1] else 1
        else:
            st[t] = 0 if d[t][0] <= d[t][1] else 1
    expected, i, bid = {}, 0, 0
    while i < n:
        if st[i] == 1:
            j = i
            while j < n and st[j] == 1:
                j += 1
            bid += 1
            expected[bid] = (h0 + i, h0 + j - 1, j - i,
                             sum(cs[i:j]), max(cs[i:j]))
            i = j
        else:
            i += 1
    import datetime as dt

    out = {}
    for r in EV_QUERIES["q_ev_bursts"](spark, sf_dir).collect():
        su = int(r["start_hour"].replace(
            tzinfo=dt.timezone.utc).timestamp()) // 3600
        eu = int(r["end_hour"].replace(
            tzinfo=dt.timezone.utc).timestamp()) // 3600
        out[r["burst_id"]] = (su, eu, r["n_hours"], r["total_events"],
                              r["peak_hourly"])
    assert out == expected
    # the Viterbi path is globally optimal: its cost is the min of d[n-1]
    # and every burst must beat base rate on average
    for _, (_, _, nh, te, _) in expected.items():
        assert te * n > s_tot * nh  # mean within burst > corpus mean


# ------------------------------------------------------------ seasonality


def test_seasonality_brute_force(spark, sf_dir):
    ev = _events(sf_dir)
    hr = 3_600_000_000
    hs = [e["t_us"] // hr for e in ev]
    h0, h1 = min(hs), max(hs)
    from collections import Counter

    cnt = Counter(hs)
    per = defaultdict(lambda: [0, 0])
    for h in range(h0, h1 + 1):
        d = per[h % 24]
        d[0] += 1
        d[1] += cnt.get(h, 0)
    n = h1 - h0 + 1
    s = sum(cnt.values())
    expected = {
        hod: (nh, c, (c * n) / (nh * s)) for hod, (nh, c) in per.items()
    }
    out = {
        r["hod"]: (r["n_hours"], r["n_events"], r["seasonal_index"])
        for r in EV_QUERIES["q_ev_seasonality"](spark, sf_dir).collect()
    }
    assert out == expected
    # indices average to ~1 by construction (weighted by hours)
    wsum = sum(v[0] * v[2] for v in expected.values())
    assert abs(wsum / n - 1.0) < 1e-9


# ------------------------------------------------------------- filtered ANN


def test_filtered_ann_brute_force(spark, sf_dir):
    from esvc_spark.queries.embeddings import (
        _FANN_K, _FANN_LABEL, _IVF_K, _IVF_NPROBE, _N_QUERIES,
        QUERIES as EMB_QUERIES,
    )
    import math

    emb_t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    embs, labels = {}, {}
    for v, lb, e in zip(
        emb_t.column("vec_id").to_pylist(),
        emb_t.column("label").to_pylist(),
        emb_t.column("embedding").to_pylist(),
    ):
        embs[v] = [float(x) for x in e]
        labels[v] = lb
    nrm = {v: math.sqrt(_dot(e, e)) for v, e in embs.items()}

    def cos(a, b):
        return _dot(embs[a], embs[b]) / (nrm[a] * nrm[b])

    filt = [v for v in embs if labels[v] == _FANN_LABEL]
    cents = [v for v in sorted(embs) if v < _IVF_K]

    def assign(v, k):
        ranked = sorted(((-cos(v, c), c) for c in cents))
        return [c for _, c in ranked[:k]]

    lists = {v: assign(v, 1)[0] for v in embs}
    expected = {}
    for q in range(_N_QUERIES):
        if q not in embs:
            continue
        truth = [
            v for _, v in sorted(
                (-cos(q, v), v) for v in filt if v != q
            )[:_FANN_K]
        ]
        cells = set(assign(q, _IVF_NPROBE))
        cand = [
            v for v in filt if v != q and lists[v] in cells
        ]
        ann = [v for _, v in sorted((-cos(q, v), v) for v in cand)[:_FANN_K]]
        hits = len(set(truth) & set(ann))
        expected[q] = (
            len(truth), len(cand), hits, hits / len(truth)
        )
    out = {
        r["query_id"]: (
            r["n_truth"], r["n_filtered_cands"], r["n_hits"],
            r["recall_postfilter"],
        )
        for r in EMB_QUERIES["q_emb_filtered_ann"](spark, sf_dir).collect()
    }
    assert out == expected
    # hits can never exceed the filtered candidate pool
    assert all(h <= c for _, c, h, _ in
               ((v[0], v[1], v[2], v[3]) for v in out.values()))


# ------------------------------------------------------------ SLO burn rate


def test_slo_burn_brute_force(spark, sf_dir):
    from esvc_spark.queries.events import (
        _SLO_BUDGET_MILLI, _SLO_LONG_X10, _SLO_SHORT_X10,
    )

    ev = _events(sf_dir)
    hr = 3_600_000_000
    from collections import Counter

    tot, err = Counter(), Counter()
    for e in ev:
        h = e["t_us"] // hr
        tot[h] += 1
        if e["event_type"] == "error":
            err[h] += 1
    h0, h1 = min(tot), max(tot)
    hs = list(range(h0, h1 + 1))
    t1 = [tot.get(h, 0) for h in hs]
    e1 = [err.get(h, 0) for h in hs]
    expected = {}
    for i, h in enumerate(hs):
        lo = max(0, i - 5)
        t6, e6 = sum(t1[lo:i + 1]), sum(e1[lo:i + 1])
        b1 = 0.0 if t1[i] == 0 else e1[i] / t1[i] * (1000.0 / _SLO_BUDGET_MILLI)
        b6 = 0.0 if t6 == 0 else e6 / t6 * (1000.0 / _SLO_BUDGET_MILLI)
        page = int(
            10000 * e1[i] > _SLO_SHORT_X10 * _SLO_BUDGET_MILLI * t1[i]
            and 10000 * e6 > _SLO_LONG_X10 * _SLO_BUDGET_MILLI * t6
        )
        expected[h] = (t1[i], e1[i], t6, e6, b1, b6, page)
    import datetime as dt

    out = {
        int(r["ts_hour"].replace(tzinfo=dt.timezone.utc).timestamp()) // 3600:
        (r["t1"], r["e1"], r["t6"], r["e6"], r["burn_1h"], r["burn_6h"],
         r["page"])
        for r in EV_QUERIES["q_ev_slo_burn"](spark, sf_dir).collect()
    }
    assert out == expected


# --------------------------------------------------------- threshold sweep


def test_threshold_sweep_brute_force(spark, sf_dir):
    from esvc_spark.queries.documents import _CAL_BINS

    docs = _docs(sf_dir)
    per = defaultdict(lambda: [0, 0])
    for d in docs:
        s = _qscore(d)
        if s is None:
            continue
        b = min(max(int(s * 2 // 1), 0), _CAL_BINS - 1)
        toks = len(re.findall(r"\S+", d["text"]))
        per[b][0] += 1
        per[b][1] += toks
    td = sum(v[0] for v in per.values())
    tt = sum(v[1] for v in per.values())
    expected = {}
    for b in per:
        dk = sum(v[0] for bb, v in per.items() if bb >= b)
        tk = sum(v[1] for bb, v in per.items() if bb >= b)
        expected[b / 2.0] = (dk, tk, dk / td, tk / tt)
    out = {
        r["threshold"]: (
            r["docs_kept"], r["tokens_kept"], r["doc_retention"],
            r["token_retention"],
        )
        for r in DOC_QUERIES["q_doc_threshold_sweep"](spark, sf_dir).collect()
    }
    assert out == expected
    # the yield curve is monotone non-increasing in the threshold
    ts = sorted(out)
    assert all(out[a][0] >= out[b][0] for a, b in zip(ts, ts[1:]))


# ----------------------------------------------------------- Davies-Bouldin


def test_db_index_brute_force(spark, sf_dir):
    import math

    from esvc_spark.queries.embeddings import QUERIES as EMB_QUERIES

    emb_t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    by_label = defaultdict(list)
    for v, lb, e in zip(
        emb_t.column("vec_id").to_pylist(),
        emb_t.column("label").to_pylist(),
        emb_t.column("embedding").to_pylist(),
    ):
        by_label[lb].append((v, [float(x) for x in e]))
    dim = len(next(iter(by_label.values()))[0][1])
    cent, sigma, nm = {}, {}, {}
    for lb, vecs in by_label.items():
        vecs.sort()
        cent[lb] = [
            sum(e[p] for _, e in vecs) / len(vecs) for p in range(dim)
        ]
        # order-pinned folds: sum in vec_id order, exactly like ofold_sum
        acc = 0.0
        for _, e in vecs:
            d2 = 0.0
            for p in range(dim):
                d2 += (e[p] - cent[lb][p]) * (e[p] - cent[lb][p])
            acc += math.sqrt(d2)
        sigma[lb] = acc / len(vecs)
        nm[lb] = len(vecs)
    def cdist(a, b):
        d2 = 0.0
        for p in range(dim):
            d2 += (cent[a][p] - cent[b][p]) * (cent[a][p] - cent[b][p])
        return math.sqrt(d2)
    comp = {
        i: max((sigma[i] + sigma[j]) / cdist(i, j)
               for j in cent if j != i)
        for i in cent
    }
    dbi = 0.0
    for i in sorted(comp):
        dbi += comp[i]
    dbi /= len(comp)
    out = {
        r["label"]: (r["n_members"], r["sigma"], r["db_component"],
                     r["db_index"])
        for r in EMB_QUERIES["q_emb_db_index"](spark, sf_dir).collect()
    }
    assert set(out) == set(cent)
    for lb in cent:
        n, sg, c, d = out[lb]
        assert n == nm[lb]
        assert sg == sigma[lb]
        assert c == comp[lb]
        assert d == dbi
    # DB components are positive and finite
    assert all(v[2] > 0 for v in out.values())


# ------------------------------------------------------------ power analysis


def test_power_analysis_brute_force(spark, sf_dir):
    import math

    from esvc_spark.queries.events import (
        _AB_CONV_MIN, _PW_C2, _PW_T2, _PW_Z,
    )

    ev = _events(sf_dir)
    per_user = defaultdict(int)
    for e in ev:
        per_user[e["user_id"]] += 1 if e["event_type"] == "purchase" else 0
    arms = {0: [0, 0], 1: [0, 0]}
    for u, np_ in per_user.items():
        v = _h15(f"ab:{u}") % 2
        arms[v][0] += 1
        arms[v][1] += 1 if np_ >= _AB_CONV_MIN else 0
    (n_a, c_a), (n_b, c_b) = arms[0], arms[1]
    pp = (c_a + c_b) / (n_a + n_b)
    mde = _PW_Z * math.sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b))
    n_req = _PW_C2 * pp * (1.0 - pp) / _PW_T2
    row = EV_QUERIES["q_ev_power_analysis"](spark, sf_dir).collect()[0]
    assert (row["n_a"], row["n_b"]) == (n_a, n_b)
    assert row["pooled_rate"] == pp
    assert row["mde_abs"] == mde
    assert row["n_required_per_arm"] == n_req
    assert row["powered_for_target"] == (1 if min(n_a, n_b) >= n_req else 0)
    # the MDE shrinks as arms grow: sanity that it is positive and finite
    assert 0 < mde < 1


# -------------------------------------------------------- phash near-dup CC


def test_phash_neardup_brute_force(spark, sf_dir):
    from esvc_spark.queries.multimodal import _PN_HAM, QUERIES as MM_QUERIES

    docs = _docs(sf_dir)
    DIM = 16
    hashes = {}
    for d in docs:
        if d["doc_id"] % 3 != 0:  # images only
            continue
        t = d["text"]
        n = len(t)
        tsum = sum(ord(c) for c in t)
        ah = 0
        for i in range(DIM):
            lo = i * (n // DIM) + min(i, n % DIM)
            ln = n // DIM + (1 if i < n % DIM else 0)
            csum = sum(ord(c) for c in t[lo:lo + ln])
            if csum * n > tsum * ln:
                ah |= 1 << i
        hashes[d["doc_id"]] = ah
    ids = sorted(hashes)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    in_edges = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(hashes[a] ^ hashes[b]).count("1") <= _PN_HAM:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
                in_edges.add(a)
                in_edges.add(b)
    expected = {}
    comp = defaultdict(list)
    for i in in_edges:
        comp[find(i)].append(i)
    for root, members in comp.items():
        lab = min(members)
        for m in members:
            expected[m] = (lab, len(members), m == lab)
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["keep"])
        for r in MM_QUERIES["q_mm_phash_neardup"](spark, sf_dir).collect()
    }
    assert out == expected
    # banding guarantees recall at Hamming <= 2: every brute-force edge
    # endpoint must be clustered
    assert set(out) == in_edges
