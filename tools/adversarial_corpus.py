"""Build the adversarial (poisoned) table directory used by the
totality + value-parity gates.

One shared builder for both consumers:
- tests/test_adversarial_corpus.py (pytest fixture)
- the full-catalog poisoned sweep:
    python tools/adversarial_corpus.py /tmp/fmr_adv   # build
    FMR_COMPARE_SF_DIR=/tmp/fmr_adv python tools/compare.py

Poison rows are APPENDED to the base fixture tables (not replacing:
iterative trainers legitimately require a non-degenerate corpus; the
point is that poison rows in a healthy corpus must not kill the job
or silently diverge between engines). The catalog of pathologies and
the divergence classes each row has caught is documented at the rows
and in SCALE.md's adversarial-certification notes.
"""

from __future__ import annotations

import os
import sys

import duckdb

ADV_DOCS = [
    (100001, "", "en", "adv"),
    (100002, "one", "en", "adv"),
    (100003, "two words", "en", "adv"),
    (100004, "   ", "en", "adv"),
    (100005, "12345 67890 11 22 33", "en", "adv"),
    (100006, ("spam " * 1000).strip(), "en", "adv"),
    (100007, "naïve café — emoji \U0001f389 mixed ünïcode text here", "de", "adv"),
    (100008, "line\nbreaks\tand\ttabs\nmix\nhere now ok", "en", "adv"),
    (100009, "x" * 5000, "en", "adv"),
    (100010, "-5 +3.2e10 NaN Infinity -0.0 1/0 £$€", "en", "adv"),
    (100011, None, "en", "adv"),
    (100012, "'); DROP TABLE documents;-- <script> \" quote ` tick", "en", "adv"),
    # a SECOND NULL-text doc: the pairwise NULL-doc cases (two failed
    # parses colliding in a dedup join) need at least two of them
    (100013, None, "en", "adv"),
]


def build_adversarial_corpus(sf_dir: str, out: str) -> str:
    """Materialize ``{out}/*.parquet``: base tables + poison rows.

    Unmodified tables are symlinked; documents/embeddings/events are
    rewritten with appended poison rows."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE adv(doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR)"
    )
    con.executemany("INSERT INTO adv VALUES (?,?,?,?)", ADV_DOCS)
    con.execute(
        f"""
        COPY (
          SELECT * FROM '{sf_dir}/documents.parquet'
          UNION ALL
          SELECT doc_id, text, lang, source,
                 coalesce(length(text), 0) AS n_chars
          FROM adv
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    dim = con.execute(
        f"SELECT len(embedding) FROM '{sf_dir}/embeddings.parquet' LIMIT 1"
    ).fetchone()[0]
    con.execute(
        f"""
        COPY (
          SELECT * FROM '{sf_dir}/embeddings.parquet'
          UNION ALL
          SELECT * FROM (VALUES
            (200001, {[0.0] * dim}::FLOAT[], 0),
            (200002, NULL::FLOAT[], 1),
            (200003, NULL::FLOAT[], NULL),
            (200004, ['nan'::FLOAT] || {[0.5] * (dim - 1)}::FLOAT[], 2),
            (200005, [NULL::FLOAT] || {[0.5] * (dim - 1)}::FLOAT[], 3),
            -- a NaN vector at an EVEN id whose odd partner is VALID,
            -- so the pair-cosine query must actively exclude it (a
            -- NaN side with an invalid partner drops at the join and
            -- would hide a missing guard)
            (200006, ['nan'::FLOAT] || {[0.5] * (dim - 1)}::FLOAT[], 4),
            (200007, {[0.25] * dim}::FLOAT[], 4),
            -- ragged vector SHORTER than the sign-LSH bit count: an
            -- unguarded element_at in signature builders throws under
            -- ANSI
            (200008, [0.5, 0.5, 0.5]::FLOAT[], 5),
            -- NULL-element vectors at an OFF-modal length (dim+2): the
            -- modal-dim election must count only NULL-element-free
            -- rows in BOTH engines, else a cluster of these could
            -- elect different modal dims per engine (ADVICE r03)
            (200009, [NULL::FLOAT] || {[0.5] * (dim + 1)}::FLOAT[], 6),
            (200010, [NULL::FLOAT] || {[0.25] * (dim + 1)}::FLOAT[], 6),
            (200011, [NULL::FLOAT] || {[0.75] * (dim + 1)}::FLOAT[], 6)
          ) t(vec_id, embedding, label)
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM '{sf_dir}/events.parquet'
          UNION ALL
          SELECT * FROM (VALUES
            (900001, NULL::TIMESTAMP, 42::BIGINT, 'view', 1.0, '{{"k": 1}}'),
            (900002, TIMESTAMP '2024-01-05 00:00:00', NULL::BIGINT, 'click',
             2.0, NULL),
            (900003, TIMESTAMP '2024-01-05 00:00:01', 43, NULL, NULL::DOUBLE,
             'not json {{'),
            (900004, TIMESTAMP '2024-01-05 00:00:02', 43, 'purchase', -7.5,
             '{{"k": "str"}}'),
            (900005, TIMESTAMP '1970-01-01 00:00:00', 44, 'error', 0.0, '[]'),
            -- NULL-user event whose event_id lands in the PIT probe
            -- set (% 10 = 7): a user-keyed lookup must drop it in
            -- BOTH engines, not just in the oracle's equi-join
            (900007, TIMESTAMP '2024-01-05 00:00:03', NULL::BIGINT, 'view',
             3.0, '{{"k": 2}}'),
            -- fractional / exponent JSON numbers: lenient numeric
            -- casts DIVERGE between engines (Spark try_cast NULLs
            -- '1.5', DuckDB TRY_CAST rounds it) — the integral-only
            -- regex contract must hold on both
            (900008, TIMESTAMP '2024-01-05 00:00:04', 45, 'view', 4.0,
             '{{"k": 1.5}}'),
            (900009, TIMESTAMP '2024-01-05 00:00:05', 45, 'view', 5.0,
             '{{"k": 1e3}}'),
            -- overflow-magnitude integral strings: pass the
            -- integral-only regex but overflow INT / BIGINT — an
            -- ANSI cast inside the guard is a CAST_OVERFLOW job
            -- kill; try_cast must NULL them in both engines
            (900010, TIMESTAMP '2024-01-05 00:00:06', 46, 'view', 6.0,
             '{{"k": 3000000000}}'),
            (900011, TIMESTAMP '2024-01-05 00:00:07', 46, 'view', 7.0,
             '{{"k": 99999999999999999999}}'),
            (900012, TIMESTAMP '2024-01-05 00:00:08', 46, 'view', 8.0,
             '{{"k": -99999999999999999999}}')
          ) t(event_id, ts, user_id, event_type, value, props)
        ) TO '{out}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    for t in "region nation customer supplier part orders lineitem".split():
        dst = f"{out}/{t}.parquet"
        # always relink (lexists catches dangling symlinks): reusing
        # the fixed CLI out dir against a DIFFERENT base must not
        # silently keep stale links to the previous base's tables
        if os.path.lexists(dst):
            os.remove(dst)
        os.symlink(f"{sf_dir}/{t}.parquet", dst)
    return out


def build_hot_bucket_corpus(sf_dir: str, out: str, frac: float = 0.10) -> str:
    """Distribution poison: append ``frac`` × |docs| IDENTICAL template
    docs. Identical text → identical minhash signature → every clone
    lands in the SAME band bucket (both bands), so the LSH band
    self-join must push H²/2 candidate pairs through one join key —
    the "boilerplate page duplicated site-wide" pathology. Used by the
    skew study (SCALE.md): a plain band self-join funnels the bucket
    through one task; the pairgrid tiler behind ``dedup_lsh_pairs``
    spreads it over ceil(H/B)² cells.

        python tools/adversarial_corpus.py /tmp/fmr_hot BASE --hot
    """
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    hot = int(n * frac)
    template = (
        "standard legal boilerplate notice terms of service apply to all "
        "users of this site contents provided as is without warranty of "
        "any kind either express or implied including but not limited to "
        "merchantability fitness for a particular purpose and noninfringement"
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM '{sf_dir}/documents.parquet'
          UNION ALL
          SELECT 500000 + t.i AS doc_id, '{template}' AS text,
                 'en' AS lang, 'hot' AS source,
                 length('{template}') AS n_chars
          FROM range(0, {hot}) t(i)
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings".split()
    ):
        dst = f"{out}/{t}.parquet"
        if os.path.lexists(dst):
            os.remove(dst)
        os.symlink(f"{sf_dir}/{t}.parquet", dst)
    return out


def build_hot_gram_corpus(sf_dir: str, out: str, frac: float = 0.20) -> str:
    """Distribution poison for the EXACT-SUBSTRING family: append
    ``frac`` × |docs| documents that are pairwise UNIQUE except for one
    shared >=40-char boilerplate sentence embedded mid-document (the
    license-header / nav-bar pathology). Unlike the identical-clone
    hot-bucket corpus, the unique text keeps MinHash/SimHash buckets
    cold — only the stride-1 L-gram verify join sees a hot key: every
    planted doc shares the boilerplate's grams, so the un-tiled
    self-join must push H²/2 pair rows through single gram keys while
    the pairgrid-tiled verify spreads them over ceil(H/B)² cells.
    Used by the round-11 skew study (SCALE.md) and
    tests/test_skew.py::test_substring_pairs_match_oracle_on_hot_gram_corpus.

        python tools/adversarial_corpus.py /tmp/fmr_hotgram BASE --hot-gram
    """
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    hot = int(n * frac)
    # EXACTLY 40 chars (= SUBSTR_L): the planted docs share exactly
    # ONE stride-1 40-gram (their unique flanks kill every window
    # crossing the boundary), so the un-tiled verify join must push
    # the whole H²/2 pair volume through a SINGLE join key — the
    # sharpest form of the pathology. A longer boilerplate spreads
    # over len-39 keys and dilutes the funnel (measured: 90 chars →
    # 51 keys ≈ evenly spread at local scale).
    boiler = "copyright acme corp all rights reserved."
    assert len(boiler) == 40
    # unique flanks: md5 of the row index keyed twice, so no two
    # planted docs share any 40-gram OUTSIDE the boilerplate
    con.execute(
        f"""
        COPY (
          SELECT * FROM '{sf_dir}/documents.parquet'
          UNION ALL
          SELECT doc_id, text, lang, source,
                 CAST(length(text) AS BIGINT) AS n_chars
          FROM (
            SELECT 600000 + t.i AS doc_id,
                   'page ' || t.i || ' ' || md5('L' || t.i) || ' '
                     || md5('l' || t.i) || ' {boiler} '
                     || md5('R' || t.i) || ' ' || md5('r' || t.i)
                     || ' tail ' || t.i AS text,
                   'en' AS lang, 'hotgram' AS source
            FROM range(0, {hot}) t(i)
          )
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings".split()
    ):
        dst = f"{out}/{t}.parquet"
        if os.path.lexists(dst):
            os.remove(dst)
        os.symlink(f"{sf_dir}/{t}.parquet", dst)
    return out


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/fmr_adv"
    base = (
        sys.argv[2]
        if len(sys.argv) > 2 and not sys.argv[2].startswith("--")
        else os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    )
    if "--hot" in sys.argv:
        print(build_hot_bucket_corpus(base, out))
    elif "--hot-gram" in sys.argv:
        print(build_hot_gram_corpus(base, out))
    else:
        print(build_adversarial_corpus(base, out))
