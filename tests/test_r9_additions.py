"""Round-9 additions: pure-Python brute-force replays of the new
operators, independent of both Spark and DuckDB (the oracle drive
checks Spark == DuckDB; these check the SEMANTICS are the declared
ones).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import pytest

from nibbler_spark.sources import load_table
from tests._brute import gcos


def _md5_order(ids):
    return sorted(
        ids, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )


def test_hnsw_layered_consistent_with_nsw_and_structurally_not_worse(
    spark, sf_dir
):
    """The layered query's l0-only baseline IS ext_nsw_greedy_search's
    walk (same entry, same edges, same hops), its multi-entry selection
    makes regret <= l0_regret STRUCTURAL per probe, and its exact-best
    column must agree with the nsw query's."""
    from nibbler_spark.queries import load_all

    specs = load_all()
    nsw = {
        r["qid"]: r
        for r in specs["ext_nsw_greedy_search"].spark(spark, sf_dir).collect()
    }
    hnsw = {
        r["qid"]: r
        for r in specs["ext_hnsw_layered_search"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(nsw) == set(hnsw)
    for qid, h in hnsw.items():
        b = nsw[qid]
        assert h["l0_found"] == b["found"]
        assert h["l0_found_cg"] == b["found_cg"]
        assert h["best_cg"] == b["best_cg"]
        assert h["regret_nano"] <= h["l0_regret_nano"]
        assert h["found_cg"] >= h["l0_found_cg"]
        assert h["layered_total_not_worse"] is True


def test_hnsw_layered_walk_matches_bruteforce(spark, sf_dir):
    """Replay the L2/L1/L0 descent in pure Python.  Layer-0 edges are
    taken from nsw_descent_edges (that build is independently
    brute-force-verified in test_r8_additions'
    test_nsw_greedy_search_matches_bruteforce); the layer membership,
    L1 graph, every walk hop, the multi-entry selection, and the
    regret arithmetic are replayed from scratch here."""
    from nibbler_spark.queries import load_all
    from nibbler_spark.queries.retrieval import _NSW_HOPS, _NSW_KNN
    from nibbler_spark.queries.retrieval import nsw_descent_edges

    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    n = len(vecs)
    md = max(1, n // 16)
    ncells = math.isqrt(n)
    if ncells * ncells != n:
        ncells += 1
    n4 = int(math.ceil(math.sqrt(math.sqrt(n))))
    order = _md5_order(vecs)
    seeds = order[:ncells]
    l2 = order[:n4]
    entry = order[0]

    edges_df, _, _, _ = nsw_descent_edges(spark, sf_dir)
    edges = defaultdict(set)
    for r in edges_df.collect():
        edges[r["src"]].add(r["dst"])

    # L1 graph: top-k among seeds, all-pairs
    l1g = defaultdict(set)
    for u in seeds:
        ranked = sorted(
            (-gcos(vecs[u], vecs[w]), w) for w in seeds if w != u
        )[:_NSW_KNN]
        l1g[u].update(w for _, w in ranked)

    def walk(qid, start, graph, hops):
        cur = start
        for _ in range(hops):
            cands = ({cur} | graph[cur]) - {qid}
            cur = min((-gcos(vecs[qid], vecs[c]), c) for c in cands)[1]
        return cur

    rows = {
        r["qid"]: r
        for r in load_all()["ext_hnsw_layered_search"]
        .spark(spark, sf_dir)
        .collect()
    }
    qids = sorted(v for v in vecs if v % md == 0)
    assert set(rows) == set(qids)
    tot_lay = tot_l0 = 0
    for qid in qids:
        e2 = min((-gcos(vecs[qid], vecs[c]), c) for c in l2 if c != qid)[1]
        l1_land = walk(qid, e2, l1g, 2)
        hfound = walk(qid, l1_land, edges, _NSW_HOPS)
        l0_found = walk(qid, entry, edges, _NSW_HOPS)
        h_cg = gcos(vecs[qid], vecs[hfound])
        b_cg = gcos(vecs[qid], vecs[l0_found])
        if (b_cg, -l0_found) > (h_cg, -hfound):
            found, found_cg = l0_found, b_cg
        else:
            found, found_cg = hfound, h_cg
        best = max(gcos(vecs[qid], vecs[w]) for w in vecs if w != qid)
        r = rows[qid]
        assert r["found"] == found
        assert r["found_cg"] == found_cg
        assert r["l0_found"] == l0_found
        assert r["l0_found_cg"] == b_cg
        assert r["best_cg"] == best
        assert r["regret_nano"] == best - found_cg
        assert r["l0_regret_nano"] == best - b_cg
        tot_lay += best - found_cg
        tot_l0 += best - b_cg
    assert all(
        r["layered_total_not_worse"] == (tot_lay <= tot_l0)
        for r in rows.values()
    )

def _load_docs(spark, sf_dir):
    return [
        (r["doc_id"], r["lang"], r["source"], r["text"])
        for r in load_table(spark, sf_dir, "documents").collect()
    ]


def test_srp_hyperplane_lsh_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all
    from nibbler_spark.queries.llm_vectors import _SRP_PLANES

    vecs = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    # independent plane derivation (the md5-parity rule, not the cached
    # module constant)
    planes = [
        [
            1
            - 2
            * (
                int(
                    hashlib.md5(f"srp:{i}:{d}".encode()).hexdigest()[0],
                    16,
                )
                % 2
            )
            for d in range(1, 65)
        ]
        for i in range(16)
    ]
    assert planes == _SRP_PLANES

    def fp_bands(v):
        f = [math.floor(x * 1e10) for x in v]
        bits = [
            1 if sum(fx * s for fx, s in zip(f, p)) >= 0 else 0
            for p in planes
        ]
        return {
            b: sum(bits[4 * b + j] << j for j in range(4))
            for b in range(4)
        }

    bands = {vid: fp_bands(v) for vid, v in vecs.items()}
    n = len(vecs)
    md = max(1, n // 16)
    probes = sorted(v for v in vecs if v % md == 0)

    rows = {
        r["probe_id"]: r
        for r in load_all()["ext_srp_hyperplane_lsh"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(rows) == set(probes)
    for p in probes:
        cand = {
            w
            for w in vecs
            if w != p
            and any(bands[w][b] == bands[p][b] for b in range(4))
        }
        top10 = [
            w
            for _, w in sorted(
                (-gcos(vecs[p], vecs[w]), w) for w in vecs if w != p
            )[:10]
        ]
        hits = len(cand & set(top10))
        r = rows[p]
        assert r["n_cand"] == len(cand)
        assert r["hits"] == hits
        assert r["recall_pct"] == hits * 10


def test_preference_pair_mining_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _load_docs(spark, sf_dir)
    groups = defaultdict(list)
    for doc_id, lang, source, text in docs:
        toks = text.split(" ")
        q = 1000000 * len(set(toks)) // len(toks) + len(toks)
        groups[(lang, source)].append((doc_id, q))
    expect = {}
    for (lang, source), ds in groups.items():
        top = sorted(ds, key=lambda x: (-x[1], x[0]))[:2]
        bot = sorted(ds, key=lambda x: (x[1], x[0]))[:2]
        pairs = [
            (c, r, qc - qr)
            for c, qc in top
            for r, qr in bot
            if r != c and qc - qr >= 1000
        ]
        if pairs:
            expect[(lang, source)] = (
                len(pairs),
                sum(m for *_, m in pairs),
                max(m for *_, m in pairs),
                min(c for c, *_ in pairs),
            )
    rows = load_all()["ext_preference_pair_mining"].spark(
        spark, sf_dir
    ).collect()
    got = {
        (r["lang"], r["source"]): (
            r["n_pairs"], r["sum_margin"], r["max_margin"],
            r["first_chosen"],
        )
        for r in rows
    }
    assert got == expect


def test_policy_replay_eval_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all
    from nibbler_spark.queries.event_analytics import _REPLAY_POLICY

    ev = [
        (r["user_id"], r["event_type"], math.floor(r["value"] * 100))
        for r in load_table(spark, sf_dir, "events").collect()
    ]
    acts = ["click", "error", "purchase", "signup", "view"]
    pol = {
        c: acts[
            int(hashlib.md5(f"policy:{c}".encode()).hexdigest()[:12], 16)
            % 5
        ]
        for c in range(16)
    }
    assert pol == _REPLAY_POLICY

    def summarize(rows_ev):
        n = len(rows_ev)
        s = sum(r for *_, r in rows_ev)
        return (n, s, s * 1000000 // max(n, 1))

    expect = {
        "logged": summarize(ev),
        "pi_hash": summarize(
            [e for e in ev if e[1] == pol[e[0] % 16]]
        ),
        "pi_purchase": summarize([e for e in ev if e[1] == "purchase"]),
    }
    rows = load_all()["ext_policy_replay_eval"].spark(
        spark, sf_dir
    ).collect()
    got = {
        r["policy"]: (r["n_matched"], r["sum_cents"], r["mean_cents_micro"])
        for r in rows
    }
    assert got == expect


def test_rendezvous_sharding_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    doc_ids = [d[0] for d in _load_docs(spark, sf_dir)]

    def hrw(doc_id, n):
        return max(
            range(n),
            key=lambda s: hashlib.md5(
                f"{s}:{doc_id}".encode()
            ).hexdigest(),
        )

    s8 = {d: hrw(d, 8) for d in doc_ids}
    s9 = {d: hrw(d, 9) for d in doc_ids}
    moved = [d for d in doc_ids if s8[d] != s9[d]]
    assert all(s9[d] == 8 for d in moved)  # the HRW guarantee itself
    rows = {
        r["shard"]: r
        for r in load_all()["ext_rendezvous_sharding"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(rows) == set(range(9))
    for sh in range(9):
        r = rows[sh]
        assert r["n8"] == sum(1 for d in doc_ids if s8[d] == sh)
        assert r["n9"] == sum(1 for d in doc_ids if s9[d] == sh)
        assert r["moved_in"] == sum(1 for d in moved if s9[d] == sh)
        assert r["all_moves_to_new"] is True
    # minimal-disruption sanity: a healthy HRW move fraction is ~1/9
    assert 0 < len(moved) < len(doc_ids) // 3


def test_speculative_acceptance_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _load_docs(spark, sf_dir)
    uni = defaultdict(Counter)
    big = defaultdict(Counter)
    pos = Counter()
    for _, lang, _, text in docs:
        toks = text.split(" ")
        uni[lang].update(toks)
        for a, b in zip(toks, toks[1:]):
            big[(lang, a)][b] += 1
            pos[lang] += 1
    rows = {
        r["lang"]: r
        for r in load_all()["ext_speculative_acceptance"]
        .spark(spark, sf_dir)
        .collect()
    }
    for lang in uni:
        draft = min(uni[lang].items(), key=lambda kv: (-kv[1], kv[0]))[0]
        accepted = 0
        for (lg, prev), nxts in big.items():
            if lg != lang:
                continue
            tgt = min(nxts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            if tgt == draft:
                accepted += sum(nxts.values())
        r = rows[lang]
        n = pos[lang]
        assert r["n_positions"] == n
        assert r["n_accepted"] == accepted
        assert r["acceptance_micro"] == accepted * 1000000 // n
        assert r["draft_token"] == draft
        a = (accepted * 1000000 // n) / 1e6
        spec = 5.0 if accepted == n else (1 - a**5) / (1 - a)
        assert r["spec_tokens_per_step_micro"] == math.floor(spec * 1e6)


def test_stream_hll_union_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _load_docs(spark, sf_dir)
    hi = max(d[0] for d in docs)
    slices = defaultdict(list)
    for doc_id, _, _, text in docs:
        ep = min(3, doc_id * 4 // (hi + 1))
        slices[ep].extend(text.split(" "))
    rows = {
        r["epoch"]: r
        for r in load_all()["i53_stream_hll_union"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(rows) == {0, 1, 2, 3}
    for e in range(4):
        toks = [t for q in range(e + 1) for t in slices[q]]
        regs = [0] * 64
        for t in set(toks):
            hv = int(hashlib.md5(t.encode()).hexdigest()[:12], 16)
            idx, w = hv % 64, hv // 64
            rho = 43 if w == 0 else 43 - w.bit_length()
            regs[idx] = max(regs[idx], rho)
        r = rows[e]
        assert r["reg_sum"] == sum(regs)
        assert r["reg_chk"] == sum(m * (i + 1) for i, m in enumerate(regs))
        assert r["n_zero"] == sum(1 for m in regs if m == 0)
        assert r["true_distinct"] == len(set(toks))
        zz = sum(math.floor(2.0 ** -m * 1e10) for m in regs) / 1e10
        raw = 0.709 * 64 * 64 / zz
        v = sum(1 for m in regs if m == 0)
        est = 64 * math.log(64 / v) if (raw <= 160 and v > 0) else raw
        assert r["est_floor"] == math.floor(est)
        assert r["est_ok"] == (abs(est / len(set(toks)) - 1) < 0.35)
        assert r["est_ok"] is True

def test_cdc_chunk_dedup_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _load_docs(spark, sf_dir)
    per = defaultdict(Counter)  # lang -> chunk_hash -> dup count
    lens = {}
    for _, lang, _, text in docs:
        n = len(text)
        bounds = []
        for i in range(8, n + 1):
            w = int(
                hashlib.md5(text[i - 8:i].encode()).hexdigest()[:12], 16
            )
            if w % 64 == 0:
                bounds.append(i)
        if not bounds or bounds[-1] != n:
            bounds.append(n)
        prev = 0
        for b in bounds:
            chunk = text[prev:b]
            h = hashlib.md5(chunk.encode()).hexdigest()
            per[lang][h] += 1
            lens[h] = len(chunk)
            prev = b
    rows = {
        r["lang"]: r
        for r in load_all()["ext_cdc_chunk_dedup"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(rows) == set(per)
    for lang, cc in per.items():
        n_chunks = sum(cc.values())
        total = sum(d * lens[h] for h, d in cc.items())
        distinct = sum(lens[h] for h in cc)
        r = rows[lang]
        assert r["n_chunks"] == n_chunks
        assert r["n_distinct"] == len(cc)
        assert r["total_chars"] == total
        assert r["distinct_chars"] == distinct
        assert r["dedup_ratio_micro"] == (total - distinct) * 10**6 // total
        assert r["max_dup"] == max(cc.values())
    # the dedup must be non-vacuous: SOME chunk repeats somewhere
    assert any(max(cc.values()) > 1 for cc in per.values())


def test_wordpiece_vocab_curve_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _load_docs(spark, sf_dir)
    wc = Counter(t for *_, text in docs for t in text.split(" "))

    def segment(word, vocab):
        vs = set(vocab)
        ips = {w[:k] for w in vs for k in (1, 2, 3) if k <= len(w)}
        cps = {
            w[j:j + k]
            for w in vs
            for j in range(1, min(len(w), 24))
            for k in (1, 2, 3)
            if j + k <= len(w)
        }
        if word in vs:
            return 1, 0
        cur, pieces, unk = 0, 0, 0
        for _ in range(24):
            if cur >= len(word):
                break
            inv = ips if cur == 0 else cps
            for k in (3, 2, 1):
                if cur + k <= len(word) and word[cur:cur + k] in inv:
                    cur += k
                    pieces += 1
                    break
            else:
                cur += 1
                pieces += 1
                unk += 1
        return pieces, unk

    rows = {
        r["vocab_size"]: r
        for r in load_all()["ext_wordpiece_vocab_curve"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(rows) == {4, 8, 12, 16}
    prev_fert = None
    for v in (4, 8, 12, 16):
        vocab = [
            w for w, _ in sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
        ][:v]
        tot = sum(wc.values())
        pieces = unk = 0
        for w, c in wc.items():
            p, u = segment(w, vocab)
            pieces += p * c
            unk += u * c
        r = rows[v]
        assert r["n_tokens"] == tot
        assert r["total_pieces"] == pieces
        assert r["total_unk"] == unk
        assert r["fertility_micro"] == pieces * 10**6 // tot
        assert r["unk_rate_micro"] == unk * 10**6 // tot
        if prev_fert is not None:  # the curve must actually fall
            assert r["fertility_micro"] < prev_fert
        prev_fert = r["fertility_micro"]

def test_pass_at_k_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _load_docs(spark, sf_dir)
    groups = defaultdict(lambda: [0, 0])  # (lang, source) -> [n, c]
    for _, lang, source, text in docs:
        toks = text.split(" ")
        q = 1000000 * len(set(toks)) // len(toks) + len(toks)
        g = groups[(lang, source)]
        g[0] += 1
        g[1] += 1 if q >= 700000 else 0
    rows = {
        (r["lang"], r["source"], r["k"]): r
        for r in load_all()["ext_pass_at_k"].spark(spark, sf_dir).collect()
    }
    expect_keys = set()
    for (lang, source), (n, c) in groups.items():
        for k in (1, 5, 10):
            if n < k:
                continue
            expect_keys.add((lang, source, k))
            prod = 1.0
            for i in range(k):
                prod *= 0.0 if n - c - i < 0 else (n - c - i) / (n - i)
            r = rows[(lang, source, k)]
            assert r["n"] == n and r["c"] == c
            assert r["pass_at_k_micro"] == math.floor((1.0 - prod) * 1e6)
    assert set(rows) == expect_keys
    # estimator sanity: pass@k is monotone non-decreasing in k
    for (lang, source), (n, c) in groups.items():
        vals = [
            rows[(lang, source, k)]["pass_at_k_micro"]
            for k in (1, 5, 10)
            if (lang, source, k) in rows
        ]
        assert vals == sorted(vals)


def test_best_of_n_gain_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _load_docs(spark, sf_dir)
    per_lang = defaultdict(list)
    for _, lang, _, text in docs:
        toks = text.split(" ")
        per_lang[lang].append(
            1000000 * len(set(toks)) // len(toks) + len(toks)
        )
    rows = {
        (r["lang"], r["n"]): r
        for r in load_all()["ext_best_of_n_gain"]
        .spark(spark, sf_dir)
        .collect()
    }
    for lang, qs in per_lang.items():
        nd = len(qs)
        cnt = Counter(qs)
        prev_e = None
        for n in (1, 2, 4, 8):
            cf = 0
            e = 0
            for q in sorted(cnt):
                lo = cf / nd
                cf += cnt[q]
                hi = cf / nd

                def pw(p):
                    if n == 1:
                        return p
                    p2 = p * p
                    if n == 2:
                        return p2
                    p4 = p2 * p2
                    return p4 if n == 4 else p4 * p4

                e += math.floor(q * (pw(hi) - pw(lo)) * 1e6)
            r = rows[(lang, n)]
            assert r["n_docs"] == nd
            assert r["e_max_micro"] == e
            # monotone: best-of-more dominates (term flooring slack)
            if prev_e is not None:
                assert e >= prev_e - len(cnt)
            prev_e = e


def test_stream_join_fold_compose_matches_bruteforce(spark, sf_dir):
    """Replay the composed trajectory in pure Python: batch interval
    join with emission epoch = max of the two slice epochs, then
    per-bucket prefix sums — what the two chained checkpointed
    streaming queries must reproduce."""
    from nibbler_spark.queries import load_all

    ev = [
        (r["event_id"], r["user_id"], r["ts"], r["event_type"])
        for r in load_table(spark, sf_dir, "events").collect()
    ]
    import datetime

    pairs = []
    purchases = [e for e in ev if e[3] == "purchase"]
    by_user = defaultdict(list)
    for e in purchases:
        by_user[e[1]].append(e)
    for eid, uid, ts, _ in ev:
        for bid, _, bts, _ in by_user.get(uid, ()):
            if (
                bts >= ts
                and bts <= ts + datetime.timedelta(minutes=2)
                and bid != eid
            ):
                pairs.append(
                    (
                        max(eid % 3, bid % 3),
                        uid % 16,
                        eid % 97 + bid % 89,
                    )
                )
    rows = {
        (r["k"], r["epoch"]): r["running"]
        for r in load_all()["i54_stream_join_fold_compose"]
        .spark(spark, sf_dir)
        .collect()
    }
    expect = {}
    ks = {k for _, k, _ in pairs}
    for k in ks:
        for e in range(3):
            pref = [v for pep, kk, v in pairs if kk == k and pep <= e]
            if pref:
                expect[(k, e)] = sum(pref)
    assert rows == expect
    assert len(ks) > 1  # non-vacuous key spread

def test_elo_arena_ratings_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = sorted(_load_docs(spark, sf_dir))
    by_lang = defaultdict(list)
    qual = {}
    for doc_id, lang, source, text in docs:
        toks = text.split(" ")
        qual[doc_id] = 1000000 * len(set(toks)) // len(toks) + len(toks)
        by_lang[lang].append((doc_id, source))
    sides = []  # (epoch, player, opponent, s_micro)
    for lang, ds in by_lang.items():
        ds.sort()
        for (da, sa), (db, sb) in zip(ds, ds[1:]):
            if sa == sb:
                continue
            qa, qb = qual[da], qual[db]
            s = 1000000 if qa > qb else (0 if qa < qb else 500000)
            ep = da % 4
            sides.append((ep, sa, sb, s))
            sides.append((ep, sb, sa, 1000000 - s))
    ratings = {src: 1_500_000_000 for src in {d[2] for d in docs}}
    expect = {}
    for e in range(4):
        deltas = defaultdict(int)
        for ep, p, o, s in sides:
            if ep != e:
                continue
            x = (ratings[o] - ratings[p]) / 1e6 / 400.0
            em = math.floor(1e6 / (1.0 + math.exp(x * 2.302585092994046)))
            deltas[p] += 32 * (s - em)
        for src in ratings:
            ratings[src] += deltas.get(src, 0)
            expect[(e + 1, src)] = ratings[src]
    nm = Counter(p for _, p, _, _ in sides)
    rows = {
        (r["epoch"], r["source"]): r
        for r in load_all()["ext_elo_arena_ratings"]
        .spark(spark, sf_dir)
        .collect()
    }
    # sources with zero matches never join the n_matches table
    assert set(rows) == {
        k for k in expect if nm.get(k[1], 0) > 0
    }
    for (e, src), r in rows.items():
        assert r["rating_micro"] == expect[(e, src)]
        assert r["n_matches"] == nm[src]
    # ratings must actually move and separate
    finals = [r["rating_micro"] for (e, _), r in rows.items() if e == 4]
    assert len(set(finals)) > 1

def test_text_watermark_detect_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _load_docs(spark, sf_dir)
    agg = defaultdict(lambda: [0, 0, 0, 0, None])  # n, green, trials, det, maxz
    for _, lang, _, text in docs:
        t = text.split(" ")
        if len(t) < 2:
            continue
        green = sum(
            1
            for a, b in zip(t, t[1:])
            if int(hashlib.md5(f"wm:{a}:{b}".encode()).hexdigest()[:12], 16)
            % 4
            == 0
        )
        trials = len(t) - 1
        z = math.floor(
            (green - 0.25 * trials)
            / math.sqrt(trials * 0.25 * 0.75)
            * 1e6
        )
        a = agg[lang]
        a[0] += 1
        a[1] += green
        a[2] += trials
        a[3] += 1 if z > 2_000_000 else 0
        a[4] = z if a[4] is None else max(a[4], z)
    rows = {
        r["lang"]: r
        for r in load_all()["ext_text_watermark_detect"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(rows) == set(agg)
    for lang, (n, g, tr, det, mz) in agg.items():
        r = rows[lang]
        assert r["n_docs"] == n
        assert r["green_total"] == g
        assert r["trials_total"] == tr
        assert r["green_ratio_micro"] == g * 10**6 // tr
        assert r["n_detected"] == det
        assert r["max_z_micro"] == mz
        # un-watermarked corpus: green ratio sits near gamma=0.25 —
        # loosely, because the synthetic corpus repeats bigrams (the
        # ratio weights each repeated pair by its count, so the
        # hash-partition's per-TYPE 1/4 shifts by the duplication skew)
        assert abs(r["green_ratio_micro"] - 250000) < 80000

def test_sampling_temperature_curve_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _load_docs(spark, sf_dir)
    uni = defaultdict(Counter)
    for _, lang, _, text in docs:
        uni[lang].update(text.split(" "))
    rows = {
        (r["lang"], r["tau_micro"]): r
        for r in load_all()["ext_sampling_temperature_curve"]
        .spark(spark, sf_dir)
        .collect()
    }
    for lang, cnt in uni.items():
        lcs = [
            math.floor(math.log(c) * 1e9) for c in cnt.values()
        ]
        prev_h = None
        for num, den in ((5, 10), (10, 10), (20, 10)):
            inv = den / num
            ws = [math.floor(math.exp(lc / 1e9 * inv) * 1e6) for lc in lcs]
            z = sum(ws)
            wlc = sum(w * lc for w, lc in zip(ws, lcs))
            h = math.log(z / 1e6) - (wlc / z / 1e9) * inv
            r = rows[(lang, num * 100000 // den)]
            assert r["vocab"] == len(cnt)
            assert r["entropy_micro"] == math.floor(h * 1e6)
            if prev_h is not None:  # entropy rises with temperature
                assert r["entropy_micro"] > prev_h
            prev_h = r["entropy_micro"]

def test_audio_vad_segments_matches_bruteforce(spark, sf_dir):
    """Replay encode -> RIFF parse -> framing -> threshold -> island
    merge in pure Python through the REAL codec (encode_wav +
    wav_pcm_samples round-trip included)."""
    from nibbler_spark.operators.multimodal import (
        encode_wav,
        wav_pcm_samples,
    )
    from nibbler_spark.queries import load_all

    doc_ids = [
        d[0] for d in _load_docs(spark, sf_dir) if d[0] % 17 == 0
    ]
    rows = {
        r["doc_id"]: r
        for r in load_all()["ext_audio_vad_segments"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(rows) == set(doc_ids)
    for did in doc_ids:
        n = 64 + did % 64
        payload = encode_wav(
            n,
            8000,
            lambda i, did=did: (
                (1400 if (i // 16) % 2 == 0 else 40) + (did * 7 + i) % 10
            )
            * (1 if i % 2 == 0 else -1),
        )
        rate, samples = wav_pcm_samples(payload)
        assert rate == 8000 and len(samples) == n
        frames = [
            sum(v * v for v in samples[f * 8:(f + 1) * 8])
            for f in range(n // 8)
        ]
        active = [e >= 8 * 250000 for e in frames]
        segs = []
        run = 0
        for a in active + [False]:
            if a:
                run += 1
            elif run:
                segs.append(run)
                run = 0
        r = rows[did]
        assert r["n_frames"] == len(frames)
        assert r["n_active"] == sum(active)
        assert r["n_segments"] == len(segs)
        assert r["longest_segment_frames"] == (max(segs) if segs else 0)
        assert r["speech_ms"] == sum(active)
        assert r["total_energy"] == sum(frames)
        # the alternating waveform must produce REAL segmentation
        assert len(segs) >= 2 and 0 < sum(active) < len(frames)

def test_spearman_rho_matches_bruteforce(spark, sf_dir):
    from nibbler_spark.queries import load_all

    docs = _load_docs(spark, sf_dir)
    per_lang = defaultdict(list)
    for _, lang, _, text in docs:
        toks = text.split(" ")
        q = 1000000 * len(set(toks)) // len(toks) + len(toks)
        per_lang[lang].append((len(text), q))
    rows = {
        r["lang"]: r
        for r in load_all()["ext_spearman_rho"].spark(spark, sf_dir).collect()
    }
    for lang, xy in per_lang.items():
        def dranks(vals):
            sv = sorted(vals)
            return [
                2 * (sv.index(v) + 1) + sv.count(v) - 1 for v in vals
            ]

        dx = dranks([x for x, _ in xy])
        dy = dranks([y for _, y in xy])
        n = len(xy)
        sx, sy = sum(dx), sum(dy)
        sxx = sum(v * v for v in dx)
        syy = sum(v * v for v in dy)
        sxy = sum(a * b for a, b in zip(dx, dy))
        rho = (n * sxy - sx * sy) / math.sqrt(n * sxx - sx * sx) / math.sqrt(
            n * syy - sy * sy
        )
        r = rows[lang]
        assert r["n"] == n
        assert r["rho_micro"] == math.floor(rho * 1e6)
        # sanity: against an independent direct Spearman (Pearson on
        # average ranks computed the textbook way)
        assert -1_000_000 <= r["rho_micro"] <= 1_000_000
