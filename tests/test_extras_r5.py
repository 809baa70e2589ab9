"""Independent Python replays for the round-5 wave (q261-q263) —
semantics pinned against brute-force reimplementations, not just the
DuckDB oracles (which tests/test_oracle_parity.py already covers)."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

import pandas as pd

from voz_spark.registry import all_queries, release_caches


def _docs(sf_dir: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/documents.parquet")


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_q261_decontamination_replay(spark, sf_dir):
    got = {
        r.source: (r.n_train_docs, r.n_contaminated, r.contam_milli)
        for r in all_queries()["q261_benchmark_decontamination"](spark, sf_dir).collect()
    }
    release_caches(spark)
    d = _docs(sf_dir)
    eval_tri, train_tri = set(), defaultdict(set)
    n_train = Counter()
    for _, r in d.iterrows():
        tk = r.text.split(" ")
        tris = {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}
        if int(r.doc_id) % 97 == 0:
            eval_tri |= tris
        else:
            n_train[r.source] += 1
            train_tri[(r.source, int(r.doc_id))] = tris
    contam = Counter()
    for (src, _), tris in train_tri.items():
        if tris & eval_tri:
            contam[src] += 1
    want = {
        src: (n, contam[src], 1000 * contam[src] // max(n, 1))
        for src, n in n_train.items()
    }
    assert got == want
    # non-degenerate on every driver fixture: some but not all docs hit
    tot_c = sum(v[1] for v in got.values())
    tot_n = sum(v[0] for v in got.values())
    assert 0 < tot_c < tot_n


def test_q262_vocab_curve_replay(spark, sf_dir):
    rows = all_queries()["q262_vocab_coverage_curve"](spark, sf_dir).collect()
    release_caches(spark)
    d = _docs(sf_dir)
    cnt = Counter()
    for t in d.text:
        cnt.update(t.split(" "))
    total = sum(cnt.values())
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    got = {r.vocab_size: r for r in rows}
    assert sorted(got) == [4, 16, 64, 256]
    for v, r in got.items():
        top = ranked[:v]
        covered = sum(c for _, c in top)
        assert r.n_types_used == len(top)
        assert r.covered_tokens == covered
        assert r.total_tokens == total
        assert r.coverage_milli == 1000 * covered // total
        assert r.oov_milli == 1000 * (total - covered) // total
    # the curve is monotone and reaches full coverage at the top cut
    assert got[4].coverage_milli <= got[16].coverage_milli <= got[64].coverage_milli
    assert got[4].coverage_milli + got[4].oov_milli <= 1000  # integer floors


def test_q263_split_audit_replay(spark, sf_dir):
    rows = all_queries()["q263_split_leakage_audit"](spark, sf_dir).collect()
    release_caches(spark)
    d = _docs(sf_dir)
    cells = Counter()
    n_docs = Counter()
    for _, r in d.iterrows():
        cells[(r.source, _h60(str(int(r.doc_id))) % 5)] += 1
        n_docs[r.source] += 1
    for r in rows:
        n = n_docs[r.source]
        total = n * (n - 1) // 2
        same = sum(
            c * (c - 1) // 2 for (s, _), c in cells.items() if s == r.source
        )
        assert r.n_docs == n
        assert r.total_pairs == total
        assert r.naive_leaked_pairs == total - same
        # the guarantee the operator exists to verify, computed not assumed
        assert r.group_leaked_pairs == 0
        assert r.group_fold == _h60(r.source) % 5
    assert {r.source for r in rows} == set(n_docs)
    # the doc-level hash split genuinely leaks somewhere on every
    # driver fixture (a 2-doc source may land in one fold by chance,
    # so the assertion is corpus-level, not per-source)
    assert any(r.naive_leaked_pairs > 0 for r in rows)


def test_q264_rare_token_gate_replay(spark, sf_dir):
    rows = all_queries()["q264_rare_token_gate"](spark, sf_dir).collect()
    release_caches(spark)
    from voz_spark.extras_r5 import _Q264_REJECT_MILLI, _Q264_VOCAB

    d = _docs(sf_dir)
    cnt = Counter()
    for t in d.text:
        cnt.update(t.split(" "))
    vocab = {
        t for t, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:_Q264_VOCAB]
    }
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, rejected, oov, total
    for _, r in d.iterrows():
        tk = r.text.split(" ")
        oov = sum(1 for t in tk if t not in vocab)
        a = agg[r.source]
        a[0] += 1
        a[1] += 1 if 1000 * oov // len(tk) > _Q264_REJECT_MILLI else 0
        a[2] += oov
        a[3] += len(tk)
    got = {
        r.source: (r.n_docs, r.n_rejected, r.oov_tokens, r.total_tokens, r.oov_milli)
        for r in rows
    }
    want = {
        s: (a[0], a[1], a[2], a[3], 1000 * a[2] // max(a[3], 1))
        for s, a in agg.items()
    }
    assert got == want
    # the gate must discriminate on every driver fixture: some but not
    # all documents rejected
    tot_rej = sum(v[1] for v in got.values())
    assert 0 < tot_rej < sum(v[0] for v in got.values())


def test_q265_chunk_manifest_replay(spark, sf_dir):
    rows = all_queries()["q265_rag_chunk_manifest"](spark, sf_dir).collect()
    release_caches(spark)
    from voz_spark.extras_r5 import _Q265_S, _Q265_W

    d = _docs(sf_dir)
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r)
    assert set(by_doc) == {int(x) for x in d.doc_id}
    for _, dr in d.iterrows():
        n = len(dr.text.split(" "))
        chunks = sorted(by_doc[int(dr.doc_id)], key=lambda r: r.chunk_no)
        want_nc = 1 if n <= _Q265_W else (n - _Q265_W + _Q265_S - 1) // _Q265_S + 1
        assert [c.chunk_no for c in chunks] == list(range(want_nc))
        for c in chunks:
            assert c.start_tok == c.chunk_no * _Q265_S
            assert c.n_toks == min(c.start_tok + _Q265_W, n) - c.start_tok
            assert 1 <= c.n_toks <= _Q265_W
        # coverage: the last chunk reaches the final token; consecutive
        # chunks overlap by exactly W - S tokens except possibly the
        # truncated last one
        last = chunks[-1]
        assert last.start_tok + last.n_toks == n
        for a, b in zip(chunks, chunks[1:]):
            assert b.start_tok == a.start_tok + _Q265_S
            if b.n_toks == _Q265_W:
                assert a.start_tok + _Q265_W - b.start_tok == _Q265_W - _Q265_S


def test_q266_source_similarity_replay(spark, sf_dir):
    rows = all_queries()["q266_source_similarity_matrix"](spark, sf_dir).collect()
    release_caches(spark)
    d = _docs(sf_dir)
    sets = defaultdict(set)
    for _, r in d.iterrows():
        sets[r.source].update(r.text.split(" "))
    srcs = sorted(sets)
    want = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            inter = len(sets[a] & sets[b])
            want[(a, b)] = (
                len(sets[a]),
                len(sets[b]),
                inter,
                1000 * inter // (len(sets[a]) + len(sets[b]) - inter),
            )
    got = {
        (r.src_a, r.src_b): (r.n_a, r.n_b, r.n_inter, r.jaccard_milli) for r in rows
    }
    assert got == want
    assert len(got) == len(srcs) * (len(srcs) - 1) // 2


def test_q267_association_rules_replay(spark, sf_dir):
    rows = all_queries()["q267_association_rules"](spark, sf_dir).collect()
    release_caches(spark)
    from voz_spark.extras_r5 import _Q267_TOPK

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    baskets = defaultdict(set)
    for ok_, pk in zip(li.l_orderkey, li.l_partkey):
        baskets[ok_].add(int(pk) % 50)
    n_orders = len(baskets)
    item_c = Counter()
    pair_c = Counter()
    for items in baskets.values():
        for x in items:
            item_c[x] += 1
        s = sorted(items)
        for i, a in enumerate(s):
            for b in s[i + 1 :]:
                pair_c[(a, b)] += 1
    scored = []
    for (a, b), n_ab in pair_c.items():
        for ant, con in ((a, b), (b, a)):
            scored.append(
                (
                    1_000_000 * n_ab * n_orders // (item_c[ant] * item_c[con]),
                    1000 * n_ab // item_c[ant],
                    n_ab,
                    ant,
                    con,
                    1000 * n_ab // n_orders,
                )
            )
    scored.sort(key=lambda t: (-t[0], -t[1], -t[2], t[3], t[4]))
    want = [
        (ant, con, n_ab, sup, conf, lift)
        for lift, conf, n_ab, ant, con, sup in scored[:_Q267_TOPK]
    ]
    got = [
        (r.antecedent, r.consequent, r.n_ab, r.support_milli,
         r.confidence_milli, r.lift_micro)
        for r in rows
    ]
    assert got == want
    # lift must genuinely discriminate on every driver fixture
    assert rows[0].lift_micro > rows[-1].lift_micro


def test_q268_greedy_coverage_replay(spark, sf_dir):
    rows = all_queries()["q268_greedy_coverage_selection"](spark, sf_dir).collect()
    release_caches(spark)
    from voz_spark.extras_r5 import _Q268_K

    d = _docs(sf_dir)
    tris = {}
    for _, r in d.iterrows():
        tk = r.text.split(" ")
        if len(tk) >= 3:
            tris[int(r.doc_id)] = {
                " ".join(tk[i : i + 3]) for i in range(len(tk) - 2)
            }
    covered: set = set()
    want = []
    for rnd in range(1, _Q268_K + 1):
        best = max(
            tris.items(), key=lambda kv: (len(kv[1] - covered), -kv[0])
        )
        n_new = len(best[1] - covered)
        covered |= best[1]
        want.append((rnd, best[0], n_new, len(covered)))
    got = [(r.round, r.doc_id, r.n_new_shingles, r.covered_total) for r in rows]
    assert got == want
    # greedy marginal gains are non-increasing (submodularity)
    gains = [w[2] for w in want]
    assert gains == sorted(gains, reverse=True)


def test_q268_stops_when_coverage_saturates(spark, tmp_path):
    """Every later doc's trigrams are a subset of the first doc's, so
    coverage saturates after round 1, before _Q268_K rounds: the greedy
    loop stops there, with the DuckDB oracle's row set."""
    from voz_spark.extras_r5 import _Q268_K
    from voz_spark.oracle_compare import compare
    from voz_spark.registry import all_oracles

    texts = ["a b c d e f g h", "a b c d", "c d e f", "f g h", "x y"]
    pd.DataFrame(
        {
            "doc_id": pd.Series(range(len(texts)), dtype="int64"),
            "text": texts,
            "lang": "en",
            "source": "src0",
            "n_chars": pd.Series([len(t) for t in texts], dtype="int64"),
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    sf = str(tmp_path)
    name = "q268_greedy_coverage_selection"
    got = all_queries()[name](spark, sf)
    rows = [(r.round, r.doc_id, r.n_new_shingles, r.covered_total) for r in got.collect()]
    assert len(rows) < _Q268_K
    assert rows == [(1, 0, 6, 6)]
    ok, msg = compare(got, all_oracles()[name], sf)
    release_caches(spark)
    assert ok, msg
