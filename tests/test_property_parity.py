"""Property-based engine-parity tests (hypothesis): the portable kernels
must match DuckDB on arbitrary inputs, not just the corpus."""

from __future__ import annotations

import duckdb
import pandas as pd
import numpy as np
from hypothesis import given, settings, strategies as st

from blink_reloaded_spark.functions.similarity import jaro_winkler_np
from blink_reloaded_spark.oracle import (
    sql_char_shingles,
    sql_minhash,
    sql_poly_hash,
)

_con = duckdb.connect()

text_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40
)


@settings(max_examples=200, deadline=None)
@given(a=text_st, b=text_st)
def test_jw_matches_duckdb(a: str, b: str):
    mine = float(jaro_winkler_np(pd.Series([a]), pd.Series([b]))[0])
    ref = _con.execute("select jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
    assert abs(mine - ref) < 1e-12, (a, b, mine, ref)


@settings(max_examples=100, deadline=None)
@given(s=text_st)
def test_poly_hash_sql_formula_is_pure(s: str):
    """The SQL poly-hash formula evaluates deterministically in DuckDB and
    stays in [0, P) — the Spark side is pinned separately in
    tests/test_functions.py (needs a session)."""
    v1 = _con.execute(f"select {sql_poly_hash('?')}", [s]).fetchone()[0]
    v2 = _con.execute(f"select {sql_poly_hash('?')}", [s]).fetchone()[0]
    assert v1 == v2 and 0 <= v1 < 2_147_483_647


@settings(max_examples=50, deadline=None)
@given(s=st.text(alphabet="ab c", min_size=0, max_size=30))
def test_minhash_sql_monotone_under_identity(s: str):
    """sig(s) == sig(s) and identical strings collide on every band —
    the LSH self-consistency property, evaluated through the SQL mirror."""
    sh = sql_char_shingles("s", 3)
    q = f"WITH t(s) AS (VALUES (?)) SELECT {sql_minhash(sh, 0)}, {sql_minhash(sh, 1)} FROM t"
    v1 = _con.execute(q, [s]).fetchone()
    v2 = _con.execute(q, [s]).fetchone()
    assert v1 == v2


# BMP text without surrogates: the scorer kernels' proven domain
bmp_st = st.text(
    alphabet=st.characters(max_codepoint=0xFFFF, blacklist_categories=("Cs",)),
    max_size=30,
)
unit_st = st.floats(0.0, 1.0, allow_nan=False)


@settings(max_examples=150, deadline=None)
@given(
    rows=st.lists(st.tuples(bmp_st, bmp_st, unit_st, unit_st), max_size=12),
    lo=unit_st,
)
def test_fused_jw_cos_kernel_parity(rows, lo):
    """The fused scorer kernel (one UDF pass for jw and the survivors' cos)
    must return exactly the values of the unfused paths: jw =
    round(jaro_winkler_np, 6) on every row, and cos = the stored-vector
    path (hashed_embedding_udf rows, dot_product_udf's float64 einsum) on
    every row whose cheap score passes the bound."""
    from blink_reloaded_spark.functions.embedding import (
        dot_product_udf,
        hashed_embedding_udf,
    )
    from blink_reloaded_spark.operators.scoring import (
        W_JW,
        W_LEV,
        W_OVL,
        jw_cos_np,
    )

    a = pd.Series([r[0] for r in rows], dtype=object)
    b = pd.Series([r[1] for r in rows], dtype=object)
    lev = np.array([r[2] for r in rows], dtype=np.float64)
    ovl = np.array([r[3] for r in rows], dtype=np.float64)
    jw, cos = jw_cos_np(a, b, lev, ovl, lo)
    assert np.array_equal(jw, np.round(jaro_winkler_np(a, b), 6))
    past = np.flatnonzero(jw * W_JW + lev * W_LEV + ovl * W_OVL >= lo)
    embed = hashed_embedding_udf.func
    want = dot_product_udf.func(
        embed(a.iloc[past].reset_index(drop=True)),
        embed(b.iloc[past].reset_index(drop=True)),
    ).to_numpy()
    assert np.array_equal(cos[past], want), (cos[past], want)


# ---------------------------------------------------------------------------
# matcher-implementation parity: vec == loop == regex on random inputs
# ---------------------------------------------------------------------------

_WORDS = ["a", "ab", "abc", "b", "bc", "c", "x9", "zz", "q", "longword"]


@st.composite
def _dict_and_texts(draw):
    n_surf = draw(st.integers(1, 8))
    surfaces = []
    for _ in range(n_surf):
        n_tok = draw(st.integers(1, 3))
        surfaces.append(" ".join(draw(st.sampled_from(_WORDS)) for _ in range(n_tok)))
    n_rows = draw(st.integers(1, 8))
    texts = []
    for _ in range(n_rows):
        n = draw(st.integers(0, 12))
        seps = st.sampled_from([" ", "  ", "-", ", ", " . ", "\t", "é"])
        parts = []
        for _ in range(n):
            parts.append(draw(st.sampled_from(_WORDS + ["ACME", "über", ""])))
            parts.append(draw(seps))
        texts.append("".join(parts))
    return surfaces, texts


@given(_dict_and_texts())
@settings(max_examples=300, deadline=None)
def test_matcher_impl_parity_property(case):
    import pandas as pd

    from blink_reloaded_spark.operators.mentions import (
        _gen_regex,
        _gen_token,
        _gen_token_vec,
    )

    surfaces, texts = case
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i % 3}" for i in range(len(texts))],
            "turn_idx": list(range(len(texts))),
            "text": texts,
        }
    )

    def run(factory):
        out = pd.concat(list(factory(surfaces)(iter([pdf]))), ignore_index=True)
        return sorted(map(tuple, out.itertuples(index=False)))

    vec, loop, rx = run(_gen_token_vec), run(_gen_token), run(_gen_regex)
    assert vec == loop == rx


def test_kernel_dtype_paths_agree():
    """The byte-lane fast paths (uint8 codes for all-ASCII batches; uint32
    gram math when codes fit 16 bits) must be value-identical to the wide
    paths they shortcut. A batch containing ANY non-ASCII string forces the
    whole batch wide, so scoring the same pair inside an ASCII batch vs
    alongside a unicode neighbor must agree bit-for-bit; a mixed pair
    (ASCII a-side, unicode b-side) exercises the widening branch."""
    from blink_reloaded_spark.functions.embedding import _embed_matrix

    a_ascii = pd.Series(["acme corp", "jopi sys", "zenith ltd", "a\x00b", ""])
    b_ascii = pd.Series(["acme co", "jopi systems", "zenith", "ab", "x"])
    narrow = jaro_winkler_np(a_ascii, b_ascii)
    # same pairs + a unicode row: every shared pair now runs the uint32 path
    a_wide = pd.concat([a_ascii, pd.Series(["börk"])], ignore_index=True)
    b_wide = pd.concat([b_ascii, pd.Series(["bork"])], ignore_index=True)
    wide = jaro_winkler_np(a_wide, b_wide)
    assert np.array_equal(narrow, wide[:-1])
    # mixed-dtype pair: a-side batch ASCII, b-side batch non-ASCII
    mixed = jaro_winkler_np(pd.Series(["acme"]), pd.Series(["acmé"]))
    assert 0.0 <= float(mixed[0]) <= 1.0

    e_narrow = _embed_matrix(a_ascii)
    e_wide = _embed_matrix(a_wide)
    assert np.array_equal(e_narrow, e_wide[:-1])
    # BMP unicode rides the uint32 gram path; astral codes the uint64 one —
    # both must L2-normalize and agree with themselves deterministically
    astral = pd.Series(["deal \U0001F600 corp", "日本語テスト", "acme"])
    e1, e2 = _embed_matrix(astral), _embed_matrix(astral)
    assert np.array_equal(e1, e2)
    assert np.allclose(np.linalg.norm(e1, axis=1), 1.0)


def test_kernel_row_tiling_bit_identical():
    """The cache-tile wrappers (similarity.TILE / embedding.TILE) must be
    invisible in values: JW and the trigram embedding are per-row functions,
    so computing a batch whole vs in row tiles — including a tile boundary
    that splits ASCII and unicode rows so the two tiles take different
    dtype fast paths — must agree bit-for-bit."""
    import random

    from blink_reloaded_spark.functions.embedding import (
        _embed_block,
        _embed_matrix,
    )
    from blink_reloaded_spark.functions.similarity import _jaro_winkler_block

    rng = random.Random(7)
    words = ["fejimo corp", "fejimo", "acme systems", "", "jopi widgets ltd",
             "börk ünïcode", "x" * 80, "a\x00b"]
    a = pd.Series([rng.choice(words) for _ in range(5003)])
    b = pd.Series([rng.choice(words) for _ in range(5003)])
    assert np.array_equal(jaro_winkler_np(a, b, tile=512),
                          _jaro_winkler_block(a, b))
    assert np.array_equal(_embed_matrix(a, tile=512), _embed_block(a))
