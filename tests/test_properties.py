"""Property-based tests (SURVEY §5: the reference ships none; the
rebuild's test strategy adds them where invariants are crisp).

Two styles: hypothesis drives the pure-Python F7 JSON fallback parser
per-example; the Spark column-expression operators (F2 chunker, F3/F4
truncation) get a single-job batch over a seeded adversarial corpus —
per-example Spark jobs would be 1000× slower for the same coverage.
"""

from __future__ import annotations

import json
import random
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from finmapreduce_spark.llm.client import JSONParseError, robust_json_parse

# Safe alphabet: no backticks (fence/backtick extraction), no braces
# (largest-brace extraction) inside generated STRING VALUES — the
# wrappers below own those delimiters.
_SAFE = string.ascii_letters + string.digits + " _.-"
_safe_text = st.text(alphabet=_SAFE, min_size=0, max_size=20)
_json_values = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(min_value=-(10**9), max_value=10**9)
    | _safe_text,
    lambda children: st.lists(children, max_size=4)
    | st.dictionaries(
        st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8),
        children,
        max_size=4,
    ),
    max_leaves=10,
)
_json_objects = st.dictionaries(
    st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8),
    _json_values,
    min_size=1,
    max_size=5,
)


@settings(max_examples=200, deadline=None)
@given(_json_objects)
def test_f7_strict_roundtrip(obj):
    assert robust_json_parse(json.dumps(obj)) == obj


@settings(max_examples=200, deadline=None)
@given(_json_objects, _safe_text, _safe_text)
def test_f7_fenced_block_with_prose(obj, before, after):
    text = f"{before}\n```json\n{json.dumps(obj)}\n```\n{after}"
    assert robust_json_parse(text) == obj


@settings(max_examples=200, deadline=None)
@given(_json_objects, _safe_text)
def test_f7_largest_brace_candidate(obj, prose):
    text = f"Sure! Here is the answer: {json.dumps(obj)} {prose}"
    assert robust_json_parse(text) == obj


@settings(max_examples=200, deadline=None)
@given(_json_objects)
def test_f7_trailing_comma_cleanup(obj):
    dumped = json.dumps(obj)
    corrupted = dumped[:-1].rstrip() + ",}"  # non-empty dict guaranteed
    assert robust_json_parse(corrupted) == obj


@settings(max_examples=100, deadline=None)
@given(_safe_text)
def test_f7_garbage_raises_retryable(prose):
    try:
        out = robust_json_parse(prose)
    except JSONParseError:
        return
    assert isinstance(out, dict)  # only a dict may escape the chain


# ---------------------------------------------------------------------------
# Batch invariants for the Spark-side chunker and truncation
# ---------------------------------------------------------------------------

CHUNK_SIZE, OVERLAP = 50, 10
STEP = CHUNK_SIZE - OVERLAP


def _corpus():
    rng = random.Random(42)
    lengths = [
        0, 1, CHUNK_SIZE - 1, CHUNK_SIZE, CHUNK_SIZE + 1,
        CHUNK_SIZE + STEP - 1, CHUNK_SIZE + STEP, CHUNK_SIZE + STEP + 1,
        2 * CHUNK_SIZE, 5 * CHUNK_SIZE + 7,
    ] + [rng.randrange(0, 500) for _ in range(90)]
    texts = []
    for i, n in enumerate(lengths):
        texts.append(
            (i, "".join(rng.choice("abcde fgh") for _ in range(n)))
        )
    return texts


def test_f2_chunks_reconstruct_and_bound(spark):
    """Every doc: chunks are ≤ chunk_size; chunk 0 + the post-overlap
    tails of chunks 1.. reconstruct the original text exactly; the
    chunk count matches the closed form the oracle uses."""
    import math

    from finmapreduce_spark.functions.chunking import explode_chunks

    texts = _corpus()
    df = spark.createDataFrame(texts, "doc_name int, content string")
    rows = explode_chunks(
        df, chunk_size=CHUNK_SIZE, chunk_overlap=OVERLAP
    ).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_name"], []).append(
            (r["chunk_index"], r["chunk_text"])
        )
    for doc_id, original in texts:
        chunks = [t for _, t in sorted(by_doc[doc_id])]
        n = len(original)
        expected = 1 if n <= CHUNK_SIZE else math.ceil((n - CHUNK_SIZE) / STEP) + 1
        assert len(chunks) == expected, (doc_id, n)
        assert all(len(c) <= CHUNK_SIZE for c in chunks)
        rebuilt = chunks[0] + "".join(c[OVERLAP:] for c in chunks[1:])
        assert rebuilt == original, (doc_id, n)


def test_f3_f4_truncation_invariants(spark):
    """start/end truncation: kept == min(n_words, budget); kept text is
    an exact word prefix/suffix; retention = kept/n guarded at n=0."""
    from finmapreduce_spark.functions.truncation import truncate_words

    budget = 12
    texts = _corpus()
    df = spark.createDataFrame(texts, "doc_id int, text string")
    for strategy, picker in (
        ("start", lambda w: w[:budget]),
        ("end", lambda w: w[-budget:] if w else []),
    ):
        out = truncate_words(df, "text", budget, strategy=strategy).collect()
        for r in out:
            # engine token model: split(trim(text), '\s+') — an empty/
            # whitespace-only doc is ONE empty token (Spark and DuckDB
            # agree on split('') = ['']; Python's str.split() does not)
            stripped = r["text"].strip()
            words = r["text"].split()
            n_eng = 1 if stripped == "" else len(words)
            kept_words = r["trunc_text"].split()
            assert kept_words == picker(words), (strategy, r["doc_id"])
            assert r["trunc_tokens"] == min(n_eng, budget)
            assert r["trunc_original"] == n_eng
            assert r["trunc_applied"] == (n_eng > budget)
            assert abs(
                r["trunc_retention"] - min(1.0, budget / n_eng)
            ) < 1e-9


# ---------------------------------------------------------------------------
# Feature-hashing BoW embedder invariants (pure Python — the UDF body)
# ---------------------------------------------------------------------------

_words_st = st.lists(
    st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8),
    min_size=1,
    max_size=30,
)


@given(_words_st)
@settings(max_examples=60, deadline=None)
def test_hashing_bow_permutation_invariant(words):
    """Bag-of-words: token order cannot change the embedding."""
    import numpy as np
    import pandas as pd

    from finmapreduce_spark.functions.scoring import _hashing_bow_batch

    shuffled = list(words)
    random.Random(42).shuffle(shuffled)
    a, b = _hashing_bow_batch(pd.Series([" ".join(words), " ".join(shuffled)]))
    assert np.array_equal(a, b)


@given(_words_st, _words_st)
@settings(max_examples=60, deadline=None)
def test_hashing_bow_concat_additive(wa, wb):
    """emb(a ++ b) == emb(a) + emb(b): signed counts are additive over
    concatenation — the linearity that makes map-side partial
    aggregation of document vectors correct."""
    import numpy as np
    import pandas as pd

    from finmapreduce_spark.functions.scoring import _hashing_bow_batch

    a, b, ab = _hashing_bow_batch(
        pd.Series([" ".join(wa), " ".join(wb), " ".join(wa + wb)])
    )
    assert np.array_equal(ab, a + b)


def test_bpe_merges_on_controlled_corpus(spark, tmp_path, monkeypatch):
    """BPE learns the dominant pair first on a rigged corpus: 'the'
    dominates → merge 1 is ('t','h') or ('h','e') by weight; repeated
    runs and single-char words don't break the pair scan."""
    import duckdb

    from finmapreduce_spark.queries.training import (
        BPE_ORACLE,
        bpe_train_merges,
    )

    docs_pdf = [
        (0, "the the the the the thhhe a i"),
        (1, "he he he x"),
    ]
    df = spark.createDataFrame(docs_pdf, "doc_id long, text string")
    sf = tmp_path / "sf"
    sf.mkdir()
    df.write.parquet(str(sf / "documents.parquet"))

    out = {
        r["merge_rank"]: (r["pair"], r["merged"], r["pair_count"])
        for r in bpe_train_merges(spark, str(sf)).collect()
    }
    assert set(out) == {1, 2, 3}
    # 'h e' count: the×5 + thhhe + he×3 = 9; 't h' = 6 → first merge "h e"
    assert out[1] == ("h e", "he", 9)
    # oracle agrees on the same fixture
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    want = {
        int(r[0]): (r[1], r[2], int(r[3]))
        for r in con.execute(BPE_ORACLE).fetchall()
    }
    assert out == want


def test_bpe_batched_invariants(spark, sf_dir):
    """Top-M batched BPE (`_bpe_train_batched`):

    1. batch=1 is sequential training (one pick per round;
       bpe_train_merges certifies it against the unrolled sequential
       oracle) and supplies the reference merges below.
    2. With M=2, round 1's first pick equals sequential merge 1
       (identical argmax), every batch satisfies full-closure
       disjointness, and each reported pair_count equals the true
       pre-round exhaustive count (no stale-count drift WITHIN the
       guarantees — batched SELECTION may diverge from sequential
       after round 1, which is the documented trade).
    3. In-batch application commutes: applying a round's pairs in
       reversed order yields the identical token table (the property
       full closure buys; without it batching would be
       order-dependent and nondeterministic under re-planning).
    """
    from finmapreduce_spark.queries.training import (
        BPE_BATCH_M,
        BPE_BATCH_ROUNDS,
        _bpe_apply_merges,
        _bpe_char_toks,
        _bpe_pair_counts,
        _bpe_train_batched,
    )

    n = BPE_BATCH_ROUNDS * BPE_BATCH_M
    seq, st = _bpe_train_batched(spark, sf_dir, rounds=n, batch=1)
    st.unpersist()

    bat, bt = _bpe_train_batched(spark, sf_dir)
    bt.unpersist()
    assert bat[0][1:] == seq[0][1:]  # identical first argmax
    # full-closure disjointness within each round + true pre-round
    # counts (recomputed by replaying the rounds)
    toks = _bpe_char_toks(spark, sf_dir).persist()
    by_round: dict[int, list] = {}
    for rk, pair, merged, cnt in bat:
        by_round.setdefault((rk - 1) // BPE_BATCH_M, []).append(
            (rk, pair, merged, cnt)
        )
    for r in sorted(by_round):
        counts = {
            row["pair"]: int(row["cnt"])
            for row in _bpe_pair_counts(toks).collect()
        }
        used: set[str] = set()
        for _rk, pair, merged, cnt in by_round[r]:
            a, b = pair.split(" ")
            assert not ({a, b, merged} & used), (r, pair, used)
            used |= {a, b, merged}
            assert counts[pair] == cnt, (pair, counts[pair], cnt)
        pairs = [p for _, p, _m, _c in by_round[r]]
        fwd = _bpe_apply_merges(toks, pairs)
        rev = _bpe_apply_merges(toks, list(reversed(pairs)))
        diff = fwd.exceptAll(rev).union(rev.exceptAll(fwd))
        assert diff.count() == 0  # in-batch commutation
        nxt = fwd.persist()
        toks.unpersist()
        toks = nxt
    toks.unpersist()


# ---------------------------------------------------------------------------
# int8 quantization invariants (pure-Python twin of the column
# expressions in queries/similarity.py::embedding_quantize_int8)
# ---------------------------------------------------------------------------

def _quantize(v):
    import math

    absmax = max(abs(x) for x in v)
    scale = absmax / 127.0
    q = [math.floor(x / scale + 0.5) for x in v]
    return scale, q


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ).filter(lambda x: abs(x) > 1e-12),
        min_size=1,
        max_size=64,
    )
)
def test_quantize_int8_bounds_and_error(v):
    """Symmetric absmax quantization: every code in [-127, 127], and
    round-to-nearest means |q*scale - x| <= scale/2 for every
    component (the bound an index build relies on)."""
    scale, q = _quantize(v)
    assert all(-127 <= qi <= 127 for qi in q)
    for qi, x in zip(q, v):
        assert abs(qi * scale - x) <= scale / 2 + 1e-9 * scale
    # the absmax component hits a full-scale code exactly
    imax = max(range(len(v)), key=lambda i: abs(v[i]))
    assert abs(q[imax]) == 127


def test_simhash_banding_recall_is_exact(spark, sf_dir):
    """Pigeonhole guarantee: a 32-bit simhash split into 4 bands of 8
    bits means ANY pair within Hamming distance 3 differs in at most
    3 bands, so at least one band matches exactly — the banded join
    must find EVERY such pair (recall 1.0, unlike MinHash-LSH's
    probabilistic recall). Cross-check against the brute-force
    all-pairs Hamming join on the same signatures."""
    from pyspark.sql import functions as F

    from finmapreduce_spark.queries.dedup import (
        SIMHASH_HAMMING_MAX,
        dedup_simhash_pairs,
    )

    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup_simhash_pairs(spark, sf_dir).collect()
    }
    # brute force: rebuild the signatures with the same construction,
    # then all-pairs popcount driver-side (fixture-sized corpus only)
    from finmapreduce_spark.queries import dedup as D
    from finmapreduce_spark.queries.dedup import _docs, with_shingles

    base = with_shingles(_docs(spark, sf_dir))
    terms = []
    for j in range(1, D.SIMHASH_PAIR_BITS + 1):
        cnt = F.size(
            F.filter(
                F.col("shingles"),
                (lambda jj: (lambda w: F.substring(F.md5(w), jj, 1).isin(*D._HIGH)))(j),
            )
        )
        terms.append(
            F.when(
                cnt * 2 > F.size("shingles"),
                F.lit(1 << (D.SIMHASH_PAIR_BITS - j)),
            ).otherwise(F.lit(0))
        )
    import functools

    sim = functools.reduce(lambda a, b: a + b, terms).cast("long")
    sig_rows = {
        r["doc_id"]: r["sim"]
        for r in base.select("doc_id", sim.alias("sim")).collect()
    }
    brute = set()
    ids = sorted(sig_rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sig_rows[a] ^ sig_rows[b]).count("1")
            if h <= SIMHASH_HAMMING_MAX:
                brute.add((a, b, h))
    assert banded == brute
    assert brute  # the fixture corpus contains at least one near-dup


def test_ml_minhash_lsh_precision_one_and_measured_recall(spark, sf_dir):
    """Ground-truth gate for the ml.MinHashLSH pair builder
    (`ml_minhash_pairs`): its seeded Spark-ML hash coefficients
    are not SQL-reproducible, but the property it guarantees IS
    checkable — approxSimilarityJoin survivors carry EXACT Jaccard
    distances, so the pair set must be a SUBSET of the exhaustive
    Jaccard ≥ θ truth (precision 1.0 by construction — verified here)
    with the reported jaccard matching the set-exact value, and
    recall must clear the same kind of floor `dedup_lsh_recall`
    applies to the custom band join. Truth is computed driver-side
    from the identical shingle sets (fixture-sized corpus only).
    The distributed twin of this check is the catalog entry
    `dedup_ml_minhash_lsh` (the cross-certification report with an
    exact DuckDB oracle) — this test is the independent driver-side
    derivation."""
    from finmapreduce_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        _docs,
        ml_minhash_pairs,
        with_shingles,
    )

    ml_pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ml_minhash_pairs(spark, sf_dir).collect()
    }
    spark.catalog.clearCache()  # the query persists features (caller-owned)
    sets = {
        r["doc_id"]: set(r["shingles"])
        for r in with_shingles(_docs(spark, sf_dir))
        .select("doc_id", "shingles")
        .collect()
        if r["shingles"]
    }
    truth = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                j = inter / len(sets[a] | sets[b])
                if j >= JACCARD_THRESHOLD:
                    truth[(a, b)] = round(j, 6)
    assert truth, "fixture corpus must contain Jaccard near-dups"
    # precision 1.0: every emitted pair is a true pair with the exact
    # set-Jaccard value (the ML path's distance is exact on survivors)
    assert set(ml_pairs) <= set(truth), sorted(
        set(ml_pairs) - set(truth)
    )[:5]
    for p, j in ml_pairs.items():
        assert abs(j - truth[p]) <= 1e-6, (p, j, truth[p])
    # recall: 4 seeded hash tables on this corpus — floor guards a
    # silent banding collapse, the exact value is corpus-dependent
    recall = len(ml_pairs) / len(truth)
    assert recall >= 0.5, f"ml LSH recall collapsed: {recall:.3f}"


def test_ml_minhash_lsh_certification_report(spark, sf_dir):
    """The catalog's distributed cross-certification report must agree
    with the driver-side truth on this fixture: theorem columns zero,
    recall floor met, and n_true equal to the exhaustive pair count."""
    from finmapreduce_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        _docs,
        dedup_ml_minhash_lsh,
        with_shingles,
    )

    row = dedup_ml_minhash_lsh(spark, sf_dir).collect()[0]
    spark.catalog.clearCache()
    sets = {
        r["doc_id"]: set(r["shingles"])
        for r in with_shingles(_docs(spark, sf_dir))
        .select("doc_id", "shingles")
        .collect()
        if r["shingles"]
    }
    ids = sorted(sets)
    n_true = sum(
        1
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if sets[a] & sets[b]
        and len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        >= JACCARD_THRESHOLD
    )
    assert row["n_true"] == n_true
    assert row["n_false_positives"] == 0
    assert row["n_jaccard_mismatches"] == 0
    assert row["recall_floor_met"] is True


def test_shingles_short_docs_total_and_engine_equivalent(spark):
    """Docs with fewer than SHINGLE_K words must yield one whole-doc
    shingle — NOT throw. Under ANSI mode (the Spark 4 default and the
    grading driver's plain session) the unguarded element_at(words,
    i+2) raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT on a 1–2-word doc;
    the fixture corpus (≥10 words/doc) never exercises this, so this
    test pins it directly, and cross-checks the DuckDB oracle's
    CASE-guarded twin on the same short corpus."""
    import duckdb

    from finmapreduce_spark.queries.dedup import _SHINGLES_SQL, with_shingles

    rows = [
        (1, "one", "en", 3),
        (2, "", "en", 0),
        (3, "two words", "en", 9),
        (4, "alpha beta gamma delta", "en", 22),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    got = {
        r["doc_id"]: sorted(r["shingles"])
        for r in with_shingles(df).select("doc_id", "shingles").collect()
    }
    assert got[1] == ["one"]
    assert got[2] == [""]
    assert got[3] == ["two words"]
    assert got[4] == sorted(["alpha beta gamma", "beta gamma delta"])
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({d}, '{t}', '{l}', {n})" for d, t, l, n in rows)
        + ") AS t(doc_id, text, lang, n_chars)"
    )
    duck = {
        d: sorted(sh)
        for d, sh in con.execute(
            f"SELECT doc_id, shingles FROM ({_SHINGLES_SQL})"
        ).fetchall()
    }
    assert duck == got


def test_shingles_null_text_under_both_ansi_modes(spark):
    """NULL text must yield NULL shingles in BOTH ANSI modes: with
    ANSI off, size(NULL) returns -1 (non-NULL), so a guard written on
    size(words) would fire the short-doc branch and produce a [NULL]
    element array — making failed-parse docs matchable via
    xxhash64(NULL) join keys. The guard is on words itself; this pins
    it under each mode."""
    from finmapreduce_spark.queries.dedup import with_shingles

    df = spark.createDataFrame(
        [(1, None), (2, "a b c d")], "doc_id long, text string"
    )
    for mode in ("true", "false"):
        spark.conf.set("spark.sql.ansi.enabled", mode)
        try:
            got = {
                r["doc_id"]: r["shingles"]
                for r in with_shingles(df).select("doc_id", "shingles").collect()
            }
            assert got[1] is None, f"ansi={mode}: NULL text must stay NULL"
            assert sorted(got[2]) == ["a b c", "b c d"]
        finally:
            spark.conf.set("spark.sql.ansi.enabled", "true")


def test_multiclass_en_column_equals_binary_langid(spark, sf_dir):
    """One-vs-all consistency: the multiclass trainer's 'en' class is
    EXACTLY the binary en-vs-rest problem, so its (w_final, w_avg)
    rows must be bit-identical to the certified binary artifact
    (classifier_langid_weights) — same features, same labels, same
    integer updates, merely trained jointly with the other classes."""
    from finmapreduce_spark.queries.training import (
        classifier_langid_multiclass_weights,
        classifier_langid_weights,
    )

    binary = {
        r["idx"]: (r["w_final"], r["w_avg"])
        for r in classifier_langid_weights(spark, sf_dir).collect()
    }
    spark.catalog.clearCache()
    multi_en = {
        r["idx"]: (r["w_final"], r["w_avg"])
        for r in classifier_langid_multiclass_weights(spark, sf_dir)
        .filter("cls = 'en'")
        .collect()
    }
    spark.catalog.clearCache()
    assert multi_en == binary


def test_multiclass_pred_is_argmax_with_name_tiebreak(spark, sf_dir):
    """The reported pred_lang must be the argmax of the per-class
    averaged margins with ties broken by class name ascending —
    re-derived here from the weight artifact applied driver-side."""
    from finmapreduce_spark.queries.training import (
        _cls_features_unlabeled,
        _docs,
        classifier_langid_multiclass,
        classifier_langid_multiclass_weights,
    )

    wavg = {}
    for r in classifier_langid_multiclass_weights(spark, sf_dir).collect():
        wavg.setdefault(r["cls"], {})[r["idx"]] = r["w_avg"]
    spark.catalog.clearCache()
    feats = {}
    for r in _cls_features_unlabeled(_docs(spark, sf_dir)).collect():
        feats.setdefault(r["doc_id"], []).append((r["idx"], r["wgt"]))
    got = {
        r["doc_id"]: (r["pred_lang"], r["margin_avg"])
        for r in classifier_langid_multiclass(spark, sf_dir).collect()
    }
    spark.catalog.clearCache()
    assert set(got) == set(feats)
    for doc_id, fv in feats.items():
        scored = sorted(
            (
                (-sum(w * wavg[c][i] for i, w in fv), c)
                for c in wavg
            ),
        )
        neg_m, cls = scored[0]
        assert got[doc_id] == (cls, -neg_m), doc_id


def test_bpe_batched_trainer_matches_python_twin_on_wide_vocab(
    spark, tmp_path
):
    """Byte-identical parity pin for the vocab-scale lane: the
    distributed batched trainer and the pure-Python twin
    (mini_bpe.py::py_train_batched) must emit the SAME merge sequence
    over a wide-vocabulary corpus the 31-word testdata cannot
    represent (closure skips, short rounds, and window exhaustion all
    exercise here; the 4k-merge study in SCALE.md is the full-size
    form of this test)."""
    from finmapreduce_spark.functions.mini_bpe import py_train_batched
    from finmapreduce_spark.queries.training import (
        _bpe_train_batched,
        _bpe_words,
    )
    from tools.bpe_batch_study import gen_vocab_corpus

    d = gen_vocab_corpus(str(tmp_path / "vocab"), 200)
    rounds, batch, window = 8, 8, 64
    rows, toks = _bpe_train_batched(
        spark, d, rounds=rounds, batch=batch, cand_window=window
    )
    toks.unpersist()
    words = {
        r["w"]: int(r["weight"]) for r in _bpe_words(spark, d).collect()
    }
    twin = py_train_batched(
        words, rounds=rounds, batch=batch, cand_window=window
    )
    got = [tuple(pair.split(" ")) for _rk, pair, _m, _c in rows]
    assert got == twin
    assert len(got) > batch  # multiple real rounds ran


def test_url_canonicalization_merges_mess_variants(spark, sf_dir):
    """Every canonical group must (a) contain raw variants that are
    NOT string-equal to the canonical (normalization does real work:
    scheme case, www, :443, trailing slash, utm params), and (b) the
    canonical form must be mess-free and a fixpoint of the pipeline's
    rules; keeper is the min doc_id of the group."""
    from finmapreduce_spark.queries.dedup import (
        _doc_urls,
        _docs,
        dedup_url_canonical,
    )

    rows = _doc_urls(_docs(spark, sf_dir)).collect()
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(r["url_canonical"], []).append(
            (r["doc_id"], r["url_raw"])
        )
    assert any(len(g) > 1 for g in groups.values())  # dedup is non-trivial
    messy = 0
    for canon, members in groups.items():
        assert canon.startswith("https://h")
        assert "www." not in canon and ":443" not in canon
        assert "utm_" not in canon and not canon.endswith("/")
        messy += sum(1 for _d, raw in members if raw != canon)
    assert messy > 0  # raw variants really differ from canonical
    got = {
        r["url_canonical"]: (r["keeper_doc_id"], r["n_copies"])
        for r in dedup_url_canonical(spark, sf_dir).collect()
    }
    want = {
        c: (min(d for d, _ in m), len(m)) for c, m in groups.items()
    }
    assert got == want


@given(
    st.text(alphabet="abc", min_size=0, max_size=60),
    st.sampled_from([1, 2, 5, 32]),
)
@settings(max_examples=150, deadline=None)
def test_suffix_automaton_stats_match_bruteforce(s, k):
    """The linear suffix-automaton statistics must equal the explicit
    ≤k-window enumeration (the same brute force the DuckDB oracle
    runs): window count, distinct substrings, capped longest repeat."""
    from finmapreduce_spark.functions.suffix import sam_substring_stats

    n = len(s)
    subs: dict[str, int] = {}
    for i in range(n):
        for length in range(1, min(k, n - i) + 1):
            t = s[i : i + length]
            subs[t] = subs.get(t, 0) + 1
    want = (
        sum(min(k, n - i) for i in range(n)),
        len(subs),
        max((len(t) for t, c in subs.items() if c > 1), default=0),
    )
    assert sam_substring_stats(s, k) == want


@given(
    st.text(alphabet="abc ", min_size=0, max_size=50),
    st.text(alphabet="abc ", min_size=0, max_size=50),
)
@settings(max_examples=200, deadline=None)
def test_sam_lcs_matches_bruteforce(a, b):
    """The SAM-streamed longest common substring must equal the
    explicit O(n²·L) position-pair extension — uncapped, the exact
    statistic the binary-search recursive-CTE oracle pins on the
    catalog corpus."""
    from finmapreduce_spark.functions.suffix import sam_lcs

    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    assert sam_lcs(a, b) == best
    assert sam_lcs(b, a) == best  # symmetric even though the SAM isn't


def test_quantile_sketch_merge_is_map_side_combine(spark, sf_dir):
    """r13: the adaptive hash-level quantile sampler must be
    MERGEABLE — sketch(A ∪ B) computed from the union must equal the
    merge of the two halves' sketches (union the retained samples,
    sum the level counts, recompute L over the sum, refilter) — the
    property that makes map-side partial aggregation the sketch
    merge at 100 TB. Retention is a per-row predicate given L, so
    the refiltered union is EXACTLY the union's sample."""
    from pyspark.sql import functions as F

    from finmapreduce_spark.queries.sketches import (
        _docs,
        _qsk_base,
        _qsk_select,
        _qsk_threshold,
        QSK_PCTS,
    )

    docs = _docs(spark, sf_dir)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    pcts = spark.createDataFrame(
        [(p,) for p in QSK_PCTS], "percentile double"
    )

    def sketch_state(d):
        """A part's sketch state: (retained sample at ITS local L,
        full level-count table) — what an executor would emit."""
        base = _qsk_base(d).persist()
        lvlc = base.groupBy("lvl").agg(F.count("*").alias("c"))
        thr = _qsk_threshold(lvlc)
        samp = base.join(F.broadcast(thr), F.col("lvl") >= F.col("L"))
        return samp.select("doc_id", "val", "lvl"), lvlc

    sa, ca = sketch_state(half_a)
    sb, cb = sketch_state(half_b)
    # merge: sum level counts, recompute L, refilter the sample union
    merged_counts = (
        ca.unionByName(cb).groupBy("lvl").agg(F.sum("c").alias("c"))
    )
    merged_thr = _qsk_threshold(merged_counts)
    merged_sample = (
        sa.unionByName(sb)
        .join(F.broadcast(merged_thr), F.col("lvl") >= F.col("L"))
        .select("doc_id", "val")
    )
    got = sorted(
        map(tuple, _qsk_select(merged_sample, pcts).collect())
    )

    # direct sketch of the union
    base = _qsk_base(docs).persist()
    thr = _qsk_threshold(base.groupBy("lvl").agg(F.count("*").alias("c")))
    samp = base.join(F.broadcast(thr), F.col("lvl") >= F.col("L")).select(
        "doc_id", "val"
    )
    want = sorted(map(tuple, _qsk_select(samp, pcts).collect()))

    assert got == want
    assert len(want) == len(QSK_PCTS)
    spark.catalog.clearCache()


def test_weighted_minhash_demotes_boilerplate_pairs(spark, tmp_path):
    """r13: the POINT of idf-weighted signatures. On a corpus where
    many docs share a large site-wide boilerplate block, plain
    Jaccard scores boilerplate-only pairs nearly as high as a true
    near-dup pair; the weighted score (rare shingles get 4× the
    vote, ubiquitous ones 1×) must open a margin: every
    boilerplate-only pair scores BELOW a bar that the true
    content-duplicate pair stays above — while plain Jaccard cannot
    separate them at any threshold that keeps the true pair."""
    import os

    import pandas as pd

    from finmapreduce_spark.queries.dedup import (
        dedup_lsh_pairs,
        dedup_weighted_minhash_pairs,
    )

    boiler = " ".join(f"nav{i} menu{i} legal{i}" for i in range(30))
    body = " ".join(
        f"substantive content token{i} research finding{i}"
        for i in range(25)
    )
    rows = [
        (d, boiler + f" filler{d} unique body words number {d} alpha beta")
        for d in range(10)
    ]
    rows += [(200, body + " version one extra"),
             (201, body + " version two extra")]
    pdf = pd.DataFrame(
        [(d, t, "en", "synth", len(t)) for d, t in rows],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    corpus = str(tmp_path / "boiler")
    os.makedirs(corpus)
    pdf.to_parquet(os.path.join(corpus, "documents.parquet"))

    plain = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_lsh_pairs(spark, corpus).collect()
    }
    wmh = {
        (r["doc_a"], r["doc_b"]): r["wjaccard"]
        for r in dedup_weighted_minhash_pairs(spark, corpus).collect()
    }
    true_pair = (200, 201)
    boiler_plain = [v for k, v in plain.items() if k != true_pair]
    boiler_wmh = [v for k, v in wmh.items() if k != true_pair]
    assert boiler_plain and boiler_wmh
    # plain cannot separate: boilerplate pairs score within 0.1 of
    # the true pair
    assert max(boiler_plain) > plain[true_pair] - 0.1
    # weighted opens a real margin: every boilerplate pair below 0.75,
    # true pair above 0.9
    assert max(boiler_wmh) < 0.75 < 0.9 < wmh[true_pair]
    spark.catalog.clearCache()
