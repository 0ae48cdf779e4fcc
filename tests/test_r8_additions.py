"""Round-8 additions: Hamilton apportionment, fill-in-the-middle prep,
token-budget thresholding, binary-quantization recall, embedding
distribution JSD, prefix-cache analysis, and the two online state ops
(sharded SpaceSaving, half-life decayed counters).

Each batch test is an INDEPENDENT pure-Python re-derivation (the
viterbi lesson: construction-identical oracles can't see semantic
off-by-ones). The streaming tests replay the declared fold eagerly in
Python and additionally pin the ops' own guarantee columns.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from nibbler_spark.sources import load_table
from tests._brute import gcos


def _docs(spark, sf_dir):
    return [
        (r["doc_id"], r["lang"], r["source"], r["n_chars"],
         r["text"].split(" "), r["text"])
        for r in load_table(spark, sf_dir, "documents").collect()
    ]


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _nib(s: str, mod: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:4], 16) % mod


def test_mixture_apportionment_matches_hamilton_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _docs(spark, sf_dir)
    toks = Counter()
    for _, lang, source, _, tk, _ in docs:
        toks[(lang, source)] += len(tk)
    B = 100_000
    w = {k: math.floor(math.sqrt(t) * 1e3) for k, t in toks.items()}
    W = sum(w.values())
    base = {k: B * v // W for k, v in w.items()}
    rem = {k: (B * w[k]) % W for k in w}
    leftover = B - sum(base.values())
    order = sorted(w, key=lambda k: (-rem[k], k[0], k[1]))
    boosted = set(order[:leftover])
    rows = load_all()["ext_mixture_apportionment"].spark(
        spark, sf_dir
    ).collect()
    assert sum(r["alloc"] for r in rows) == B
    for r in rows:
        k = (r["lang"], r["source"])
        assert r["n_tokens"] == toks[k]
        assert r["w_scaled"] == w[k]
        assert r["base_alloc"] == base[k]
        assert r["boost"] == (1 if k in boosted else 0)
        assert r["alloc"] == base[k] + (1 if k in boosted else 0)
        # Hamilton quota property: within one unit of the real quota
        assert base[k] <= B * w[k] / W < base[k] + 1


def test_fim_transform_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = {d[0]: d[4] for d in _docs(spark, sf_dir)}
    texts = {d[0]: d[5] for d in _docs(spark, sf_dir)}
    rows = load_all()["ext_fim_transform"].spark(spark, sf_dir).collect()
    assert len(rows) == len(docs)
    n_fim = 0
    for r in rows:
        tk = docs[r["doc_id"]]
        n = len(tk)
        fim = _h32(f"fim:{r['doc_id']}") % 2 == 0 and n >= 4
        assert r["fim"] == fim
        if not fim:
            assert r["mode"] == "none"
            assert (r["p_len"], r["m_len"], r["s_len"]) == (n, 0, 0)
            exp = texts[r["doc_id"]]
        else:
            n_fim += 1
            a = 1 + _h32(f"cut1:{r['doc_id']}") % max(n - 1, 1)
            b = 1 + _h32(f"cut2:{r['doc_id']}") % max(n - 1, 1)
            c1, c2 = min(a, b), max(a, b)
            assert (r["p_len"], r["m_len"], r["s_len"]) == (
                c1, c2 - c1, n - c2,
            )
            p = " ".join(tk[:c1])
            m = " ".join(tk[c1:c2])
            s = " ".join(tk[c2:])
            if _h32(f"mode:{r['doc_id']}") % 2 == 0:
                assert r["mode"] == "psm"
                exp = " ".join(["<PRE>", p, "<SUF>", s, "<MID>", m])
            else:
                assert r["mode"] == "spm"
                exp = " ".join(["<SUF>", s, "<PRE>", p, "<MID>", m])
        assert r["sig"] == hashlib.md5(exp.encode()).hexdigest()
    # the coin is fair enough on any fixture to transform some docs
    assert 0 < n_fim < len(docs)


def test_token_budget_threshold_maximal_and_exact(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _docs(spark, sf_dir)
    scored = sorted(
        (
            (-(nc * 1000 // len(tk)), did, len(tk), lang)
            for did, lang, _, nc, tk, _ in docs
        ),
    )
    total = sum(x[2] for x in scored)
    budget = total // 2
    kept, cum = [], 0
    for negs, did, nt, lang in scored:
        if cum + nt <= budget:
            cum += nt
            kept.append((did, nt, lang, -negs))
        else:
            break
    rows = load_all()["ext_token_budget_threshold"].spark(
        spark, sf_dir
    ).collect()
    per = Counter()
    ptok = Counter()
    for did, nt, lang, _ in kept:
        per[lang] += 1
        ptok[lang] += nt
    assert {r["lang"]: r["kept_docs"] for r in rows} == dict(per)
    assert {r["lang"]: r["kept_tokens"] for r in rows} == dict(ptok)
    for r in rows:
        assert r["budget_tokens"] == budget
        assert r["cut_rank"] == len(kept)
        assert r["cut_score"] == kept[-1][3]
    # maximality: the next-ranked doc would burst the budget
    nxt = scored[len(kept)]
    assert cum + nxt[2] > budget


def test_binary_embedding_recall_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    md = max(1, len(vecs) // 16)

    def pack(v, lo, hi):
        return sum(
            1 << (i - lo) for i in range(lo, hi + 1) if v[i - 1] >= 0.0
        )

    probes = sorted(v for v in vecs if v % md == 0)
    rows = {
        r["probe_id"]: (r["hits"], r["recall_pct"])
        for r in load_all()["ext_binary_embedding_recall"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert sorted(rows) == probes
    for p in probes:
        pv = vecs[p]
        p1, p2 = pack(pv, 1, 32), pack(pv, 33, 64)
        ham = sorted(
            (
                bin(p1 ^ pack(v, 1, 32)).count("1")
                + bin(p2 ^ pack(v, 33, 64)).count("1"),
                vid,
            )
            for vid, v in vecs.items()
            if vid != p
        )[:10]
        exact = sorted(
            (-gcos(pv, v), vid) for vid, v in vecs.items() if vid != p
        )[:10]
        hits = len({v for _, v in ham} & {v for _, v in exact})
        assert rows[p] == (hits, hits * 10)


def test_embedding_jsd_bounded_and_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    seeds = sorted(
        vecs, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:16]
    hist = defaultdict(lambda: [0, 0])
    for vid, v in vecs.items():
        cell = min((-gcos(v, vecs[s]), s) for s in seeds)[1]
        hist[cell][vid % 2] += 1
    np = sum(h[0] for h in hist.values())
    nq = sum(h[1] for h in hist.values())
    num_p = sum(
        cp * math.floor(math.log(2 * cp * nq / (cp * nq + cq * np)) * 1e6)
        for cp, cq in hist.values()
        if cp > 0
    )
    num_q = sum(
        cq * math.floor(math.log(2 * cq * np / (cq * np + cp * nq)) * 1e6)
        for cp, cq in hist.values()
        if cq > 0
    )
    jsd = (num_p / np + num_q / nq) / 2e6
    rows = load_all()["ext_embedding_distribution_divergence"].spark(
        spark, sf_dir
    ).collect()
    assert {r["cell"]: (r["n_p"], r["n_q"]) for r in rows} == {
        c: tuple(h) for c, h in hist.items()
    }
    for r in rows:
        assert abs(r["jsd_nats"] - jsd) < 1e-12
        assert -1e-6 <= r["jsd_nats"] <= math.log(2) + 1e-6


def test_prefix_cache_trie_identity(spark, sf_dir):
    """INDEPENDENT check via the trie itself: distinct token prefixes
    counted directly must equal total - shared from the query, which
    derives them through sorted-adjacent LCPs."""
    from nibbler_spark.queries import load_all

    docs = _docs(spark, sf_dir)
    prefixes = set()
    total = 0
    for _, _, _, _, tk, _ in docs:
        total += len(tk)
        for i in range(1, len(tk) + 1):
            prefixes.add(tuple(tk[:i]))
    rows = load_all()["ext_prefix_cache_analysis"].spark(
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert r["total_tokens"] == total
        assert r["trie_tokens"] == len(prefixes)
        assert r["shared_tokens"] == total - len(prefixes)
        assert 0 < r["sum_lcp"]
        assert r["max_lcp"] <= r["sum_lcp"]


def _epoch_tokens(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    hi = max(d[0] for d in docs)
    out = defaultdict(list)
    for did, _, _, _, tk, _ in docs:
        ep = min(3, did * 4 // (hi + 1))
        out[ep].extend(tk)
    return out


def test_spacesaving_matches_eager_replay_and_guarantees(spark, sf_dir):
    from nibbler_spark.queries import load_all
    from nibbler_spark.queries.streaming_q import _SS_K, _SS_SHARDS

    eps = _epoch_tokens(spark, sf_dir)
    state = {s: {} for s in range(_SS_SHARDS)}
    floors = {s: 0 for s in range(_SS_SHARDS)}
    expect = {}
    truec = Counter()
    for e in range(4):
        ec = defaultdict(Counter)
        for t in eps.get(e, []):
            ec[_nib(t, _SS_SHARDS)][t] += 1
            truec[t] += 1
        for s in range(_SS_SHARDS):
            cur, fl = state[s], floors[s]
            comb = {
                t: cur.get(t, fl) + ec[s].get(t, 0)
                for t in set(cur) | set(ec[s])
            }
            ranked = sorted(comb.items(), key=lambda kv: (-kv[1], kv[0]))
            state[s] = dict(ranked[:_SS_K])
            if len(ranked) > _SS_K:
                floors[s] = max(fl, ranked[_SS_K][1])
            for rk, (t, c) in enumerate(ranked[:_SS_K], 1):
                expect[(e, s, rk)] = (t, c, floors[s])
    rows = load_all()["i51_stream_spacesaving"].spark(
        spark, sf_dir
    ).collect()
    got = {
        (r["epoch"], r["shard"], r["rank"]): (
            r["token"], r["est"], r["floor"],
        )
        for r in rows
    }
    assert got == expect
    for r in rows:
        assert r["never_undercounts"] is True
        assert r["within_floor"] is True


def test_decayed_counts_matches_eager_replay(spark, sf_dir):
    from nibbler_spark.queries import load_all

    eps = _epoch_tokens(spark, sf_dir)
    cells = defaultdict(int)
    cum = Counter()
    expect = {}
    for e in range(4):
        ec = Counter(_nib(t, 64) for t in eps.get(e, []))
        for c in set(cells) | set(ec):
            cells[c] = cells[c] // 2 + ec.get(c, 0)
        cum.update(ec)
        for c, v in cells.items():
            expect[(e, c)] = (v, cum[c])
    rows = load_all()["i52_stream_decayed_counts"].spark(
        spark, sf_dir
    ).collect()
    got = {(r["epoch"], r["cell"]): (r["decayed"], r["raw_cum"]) for r in rows}
    assert got == expect
    for r in rows:
        assert r["decayed"] <= r["raw_cum"]
        assert r["heat_milli"] == r["decayed"] * 1000 // max(r["raw_cum"], 1)


def test_lsh_parameter_sweep_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all
    from nibbler_spark.queries.llm_dedup import (
        _LSH_SWEEP_CONFIGS,
        _LSH_SWEEP_TAU,
        _lsh_sweep_theory,
    )

    docs = _docs(spark, sf_dir)
    sh = {
        did: list(dict.fromkeys(
            " ".join(tk[i:i + 3]) for i in range(len(tk) - 2)
        ))
        for did, _, _, _, tk, _ in docs
        if len(tk) >= 3
    }
    sh.update({
        did: [] for did, _, _, _, tk, _ in docs if len(tk) < 3
    })

    def h48(seed, tok):
        return int(
            hashlib.md5(f"{seed}:{tok}".encode()).hexdigest()[:12], 16
        )

    sig = {
        did: [min((h48(s, t) for t in ts), default=None) for s in range(12)]
        for did, ts in sh.items()
    }
    truth = set()
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = set(sh[a]), set(sh[b])
            inter = len(sa & sb)
            if sa | sb and inter / len(sa | sb) >= _LSH_SWEEP_TAU:
                truth.add((a, b))
    theory = _lsh_sweep_theory()
    rows = {
        (r["bands"], r["rows_per_band"]): r
        for r in load_all()["ext_lsh_parameter_sweep"]
        .spark(spark, sf_dir)
        .collect()
    }
    prev_cand = -1
    for b, r in _LSH_SWEEP_CONFIGS:
        cand = set()
        for i, a in enumerate(ids):
            for d2 in ids[i + 1:]:
                if sig[a][0] is None or sig[d2][0] is None:
                    continue
                for band in range(b):
                    if (
                        sig[a][band * r:(band + 1) * r]
                        == sig[d2][band * r:(band + 1) * r]
                    ):
                        cand.add((a, d2))
                        break
        row = rows[(b, r)]
        hit = len(cand & truth)
        assert row["n_candidates"] == len(cand)
        assert row["n_true"] == len(truth)
        assert row["n_hit"] == hit
        assert row["recall_micro"] == hit * 10**6 // max(len(truth), 1)
        assert row["precision_micro"] == hit * 10**6 // max(len(cand), 1)
        assert row["theory_at_tau_micro"] == theory[(b, r)]
        # more bands of fewer rows can only widen the candidate net
        assert len(cand) >= prev_cand
        prev_cand = len(cand)


def test_offpolicy_ips_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    ev = [
        (r["user_id"] % 4, r["event_type"], math.floor(r["value"] * 100))
        for r in load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "value")
        .collect()
    ]
    acts = sorted({a for _, a, _ in ev})
    na, total = len(acts), len(ev)
    c_sa, sums, c_s = Counter(), Counter(), Counter()
    for seg, a, cents in ev:
        c_sa[(seg, a)] += 1
        sums[(seg, a)] += cents
        c_s[seg] += 1
    terms = {
        k: (
            sums[k] * c_s[k[0]] * 10**9 // (na * c_sa[k] * total),
            c_sa[k] * c_s[k[0]] * 10**9 // (na * c_sa[k] * total),
        )
        for k in c_sa
    }
    ips = sum(t for t, _ in terms.values())
    wsum = sum(w for _, w in terms.values())
    rows = load_all()["ext_offpolicy_ips_eval"].spark(
        spark, sf_dir
    ).collect()
    assert len(rows) == len(c_sa)
    for r in rows:
        k = (r["seg"], r["action"])
        assert r["c_sa"] == c_sa[k]
        assert r["c_s"] == c_s[k[0]]
        assert r["sum_cents"] == sums[k]
        assert r["weight_micro"] == c_s[k[0]] * 10**6 // (na * c_sa[k])
        assert r["term_nano"] == terms[k][0]
        assert r["ips_nano"] == ips
        assert r["snips_milli_cents"] == ips * 1000 // max(wsum, 1)


def test_successive_halving_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all
    from nibbler_spark.queries.ml_exact import _SH_BUDGETS

    ev = sorted(
        (
            r["ts"], r["event_id"],
            f"{r['event_type']}:{r['user_id'] % 4}",
            math.floor(r["value"] * 100),
        )
        for r in load_table(spark, sf_dir, "events").collect()
    )
    per = defaultdict(list)
    for ts, eid, arm, cents in ev:
        per[arm].append(cents)
    survivors = set(per)
    expect = {}
    for i, n in enumerate(_SH_BUDGETS, start=1):
        scored = {}
        for arm in survivors:
            pre = per[arm][:n]
            scored[arm] = (len(pre), sum(pre),
                           sum(pre) * 10**9 // len(pre))
        order = sorted(scored, key=lambda a: (-scored[a][2], a))
        k = len(order)
        keep = {a for r_, a in enumerate(order, 1) if r_ * 2 <= k + 1}
        for arm in survivors:
            expect[(i, arm)] = (*scored[arm], arm in keep)
        survivors = keep
    rows = load_all()["ext_successive_halving"].spark(
        spark, sf_dir
    ).collect()
    got = {
        (r["round"], r["arm"]): (
            r["n_used"], r["sum_cents"], r["mean_nano"], r["survived"],
        )
        for r in rows
    }
    assert got == expect
    # the field strictly shrinks round over round
    sizes = Counter(r["round"] for r in rows)
    assert sizes[1] > sizes[2] > sizes[3]


def test_lm_scaling_curve_monotone_and_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _docs(spark, sf_dir)
    tok = [(did % 16, t) for did, _, _, _, tk, _ in docs for t in tk]
    vocab = len({t for _, t in tok})
    ho = Counter(t for m, t in tok if m >= 12)
    htok = sum(ho.values())
    rows = {
        r["k"]: r
        for r in load_all()["ext_lm_scaling_curve"]
        .spark(spark, sf_dir)
        .collect()
    }
    prev = None
    for k in (1, 2, 4, 8):
        tc = Counter(t for m, t in tok if m < k)
        tt = sum(tc.values())
        nll = sum(
            hc * math.floor(math.log((tt + vocab) / (tc.get(t, 0) + 1))
                            * 1e9)
            for t, hc in ho.items()
        )
        r = rows[k]
        assert r["train_tokens"] == tt
        assert r["heldout_tokens"] == htok
        assert r["nll_nano"] == nll
        assert r["nll_per_tok_nano"] == nll // htok
        assert r["scaling_slope"] < 0
        if prev is not None:
            assert r["nll_per_tok_nano"] < prev
        prev = r["nll_per_tok_nano"]


def test_nsw_greedy_search_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all
    from nibbler_spark.queries.retrieval import _NSW_HOPS, _NSW_KNN

    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    n = len(vecs)
    ncells = math.isqrt(n)
    if ncells * ncells != n:
        ncells += 1
    md = max(1, n // 16)
    seed_order = sorted(
        vecs, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )
    seeds = seed_order[:ncells]
    entry = seed_order[0]
    assign = {}
    for vid, v in vecs.items():
        ranked = sorted((-gcos(v, vecs[s]), s) for s in seeds)
        assign[vid] = (ranked[0][1], ranked[1][1] if len(ranked) > 1
                       else None)
    members = defaultdict(list)
    for vid, (c, _) in assign.items():
        members[c].append(vid)

    # r9 NN-descent build replay: sub-bucketed + ring + long seed
    # candidates, top-k seed graph, then capped-reverse
    # neighbor-of-neighbor rounds (nsw_descent_edges).
    def topk(cand_pairs):
        by_src = defaultdict(list)
        for u, w in cand_pairs:
            by_src[u].append((-gcos(vecs[u], vecs[w]), w))
        return {
            (u, w)
            for u, ranked in by_src.items()
            for _, w in sorted(ranked)[:_NSW_KNN]
        }

    seed_cand = set()
    longe = set()
    for cell, mem in members.items():
        order = sorted(
            mem,
            key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v),
        )
        for i, u in enumerate(order):
            if i + 1 < len(order):
                seed_cand.add((u, order[i + 1]))
                seed_cand.add((order[i + 1], u))
        for b0 in range(0, len(order), 8):
            bucket = order[b0:b0 + 8]
            for u in bucket:
                for w in bucket:
                    if u != w:
                        seed_cand.add((u, w))
    for vid, (_, cell2) in assign.items():
        if cell2 is not None and cell2 != vid:
            longe.add((vid, cell2))
    g = topk(seed_cand | longe)
    for _ in range(2):  # _NSW_ROUNDS
        by_dst = defaultdict(list)
        for u, w in g:
            by_dst[w].append((-gcos(vecs[u], vecs[w]), u))
        rev = {
            (w, u)
            for w, ranked in by_dst.items()
            for _, u in sorted(ranked)[:_NSW_KNN]
        }
        und = {(u, w) for u, w in g} | rev
        adj = defaultdict(set)
        for u, w in und:
            adj[u].add(w)
        cand = set(und)
        for u, ws in adj.items():
            for v in ws:
                for w in adj.get(v, ()):
                    if w != u:
                        cand.add((u, w))
        g = topk(cand)
    edges = defaultdict(set)
    for u, w in g | longe:
        edges[u].add(w)
    expect = {}
    for qid in sorted(v for v in vecs if v % md == 0):
        cur = entry
        for _ in range(_NSW_HOPS):
            cands = ({cur} | edges[cur]) - {qid}
            cur = min((-gcos(vecs[qid], vecs[c]), c) for c in cands)[1]
        exact = sorted(
            (-gcos(vecs[qid], vecs[w]), w) for w in vecs if w != qid
        )[:10]
        best = -exact[0][0]
        expect[qid] = (
            cur,
            gcos(vecs[qid], vecs[cur]),
            best,
            best - gcos(vecs[qid], vecs[cur]),
            cur in {w for _, w in exact},
        )
    rows = load_all()["ext_nsw_greedy_search"].spark(spark, sf_dir).collect()
    got = {
        r["qid"]: (
            r["found"], r["found_cg"], r["best_cg"],
            r["regret_nano"], r["found_in_top10"],
        )
        for r in rows
    }
    assert got == expect


def test_ul2_denoiser_mix_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = {d[0]: d[4] for d in _docs(spark, sf_dir)}
    rows = load_all()["ext_ul2_denoiser_mix"].spark(spark, sf_dir).collect()
    assert len(rows) == len(docs)
    seen = Counter()
    for r in rows:
        n = len(docs[r["doc_id"]])
        coin = _h32(f"ul2:{r['doc_id']}") % 3
        den = "RXS"[coin]
        assert r["denoiser"] == den
        seen[den] += 1
        if den == "S":
            mask = [1 if i > n // 2 else 0 for i in range(1, n + 1)]
        else:
            blk, rate = (3, 15) if den == "R" else (8, 50)
            mask = [
                1
                if _h32(f"blk:{r['doc_id']}:{(i - 1) // blk}") % 100 < rate
                else 0
                for i in range(1, n + 1)
            ]
        masked = sum(mask)
        islands = sum(
            1
            for i in range(n)
            if mask[i] == 1 and (i == 0 or mask[i - 1] == 0)
        )
        assert r["n_tokens"] == n
        assert r["masked"] == masked
        assert r["islands"] == islands
        assert r["masked_ratio_micro"] == masked * 10**6 // max(n, 1)
        assert r["sentinel_density_micro"] == islands * 10**6 // max(n, 1)
        assert r["mask_sig"] == hashlib.md5(
            "".join(map(str, mask)).encode()
        ).hexdigest()
    assert set(seen) == {"R", "X", "S"}  # the mix is a mix


def test_tail_index_hill_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _docs(spark, sf_dir)
    tf = defaultdict(Counter)
    for _, lang, _, _, tk, _ in docs:
        tf[lang].update(tk)
    rows = {r["lang"]: r for r in load_all()["ext_tail_index_hill"]
            .spark(spark, sf_dir).collect()}
    assert sorted(rows) == sorted(tf)
    for lang, cnt in tf.items():
        vocab = len(cnt)
        k = min(20, vocab // 2)
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        c_k1 = ranked[k][1]
        num = sum(
            math.floor(math.log(c / c_k1) * 1e9) for _, c in ranked[:k]
        )
        r = rows[lang]
        assert (r["vocab"], r["k"], r["c_k1"]) == (vocab, k, c_k1)
        assert r["hill_nano"] == num // k
        assert r["alpha_micro"] == 10**15 // max(num // k, 1)


def test_truncation_loss_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _docs(spark, sf_dir)
    rows = load_all()["ext_truncation_loss_accounting"].spark(
        spark, sf_dir
    ).collect()
    langs = {d[1] for d in docs}
    assert len(rows) == 3 * len(langs)
    for ctx in (32, 64, 128):
        for lang in langs:
            ns = [len(tk) for _, lg, _, _, tk, _ in docs if lg == lang]
            r = next(
                x for x in rows if x["ctx"] == ctx and x["lang"] == lang
            )
            assert r["n_docs"] == len(ns)
            assert r["docs_over"] == sum(1 for n in ns if n > ctx)
            lost = sum(max(n - ctx, 0) for n in ns)
            assert r["tokens_lost"] == lost
            assert r["splits_needed"] == sum(
                (n + ctx - 1) // ctx for n in ns
            )
            assert r["lang_tokens"] == sum(ns)
            assert r["loss_micro"] == lost * 10**6 // sum(ns)
