"""R7 similarity: DuckDB value-parity for JW/Jaro and the combined score."""

import random

from rosette_elasticsearch_plugin_spark.functions.similarity import (
    jaro_py,
    jaro_winkler_py,
)
from rosette_elasticsearch_plugin_spark.resolution.scoring import (
    score_pairs,
    score_sql,
)

NAME_PAIRS = [
    ("dan aykroyd", "dan akroyd"),
    ("dan aykroyd", "aykroyd dan"),
    ("ghostbusters", "ghost busters"),
    ("k svensson", "karim svensson"),
    ("petrov", "b petrov"),
    ("n nakamura", "t nakamura"),
    ("vladimir putin", "vladimir nabokov"),
    ("lea tanaka", "lena tanaka"),
    ("the hollywood reporter", "hollywood reporter"),
]


def test_jw_parity_random(duck):
    rng = random.Random(5)
    alpha = "abcde "
    for _ in range(2000):
        a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 10)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 10)))
        d_jw, d_j = duck.execute(
            "select jaro_winkler_similarity($a,$b), jaro_similarity($a,$b)",
            {"a": a, "b": b},
        ).fetchone()
        assert abs(d_jw - jaro_winkler_py(a, b)) < 1e-9, (a, b)
        assert abs(d_j - jaro_py(a, b)) < 1e-9, (a, b)


def test_score_parity_name_pairs(spark, duck):
    df = spark.createDataFrame(NAME_PAIRS, "a string, b string")
    got = {
        (r["a"], r["b"]): r["s"]
        for r in score_pairs(df, "a", "b")
        .withColumnRenamed("score", "s")
        .collect()
    }
    for a, b in NAME_PAIRS:
        want = duck.execute(
            f"select {score_sql('$a', '$b')}", {"a": a, "b": b}
        ).fetchone()[0]
        assert abs(got[(a, b)] - want) < 1e-9, (a, b, got[(a, b)], want)


def test_score_decisions():
    """The behavioral contract the corpus F1 relies on (τ = 0.70)."""
    import duckdb

    con = duckdb.connect()

    def s(a, b):
        return con.execute(f"select {score_sql('$a', '$b')}", {"a": a, "b": b}).fetchone()[0]

    # must match
    assert s("dan aykroyd", "dan akroyd") >= 0.70          # typo
    assert s("dan aykroyd", "aykroyd dan") >= 0.70         # token swap
    assert s("ghostbusters", "ghost busters") >= 0.70      # concatenation
    assert s("k svensson", "karim svensson") >= 0.70       # initials
    assert s("lea tanaka", "lena tanaka") >= 0.70          # in-token typo
    # must not match
    assert s("petrov", "b petrov") < 0.70                  # bare surname
    assert s("n nakamura", "t nakamura") < 0.70            # initial mismatch
    assert s("i almeida", "p almeida") < 0.70
    assert s("vladimir putin", "vladimir nabokov") < 0.70
    assert s("karim", "karim nakamura") < 0.70             # fragment


def test_jaro_batch_bit_identical_to_scalar():
    """The numpy-batched Jaro/Jaro-Winkler (the pair_features_udf hot
    path) must be BIT-identical to the scalar reference loop — same
    division order, same winkler boost — on random strings including
    empties, non-ASCII, repeated chars, and long outliers mixed into
    one batch (the padded-matrix code must not let pads match)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from rosette_elasticsearch_plugin_spark.functions.similarity import (
        jaro_batch_np,
    )

    alphabet = st.sampled_from(list("ab cde") + ["é", "北"])
    name = st.lists(alphabet, min_size=0, max_size=12).map("".join)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.tuples(name, name), min_size=1, max_size=30))
    def check(pairs):
        a = [p[0] for p in pairs]
        b = [p[1] for p in pairs]
        got_jw = jaro_batch_np(a, b, winkler=True)
        got_j = jaro_batch_np(a, b, winkler=False)
        ref_jw = np.array([jaro_winkler_py(x, y) for x, y in pairs])
        ref_j = np.array([jaro_py(x, y) for x, y in pairs])
        assert np.array_equal(got_jw, ref_jw), pairs
        assert np.array_equal(got_j, ref_j), pairs

    check()


def test_token_features_batch_identical_to_scalar():
    """The vectorized token-alignment features (cover/contra/expand —
    pair_features_udf's hot path) must decide exactly like the scalar
    reference functions on random names including initials, empty
    tokens (double spaces), unequal token counts, and non-ASCII."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from rosette_elasticsearch_plugin_spark.resolution.scoring import (
        _contra_tok,
        _cover_tok,
        _expand_tok,
        _token_features_batch,
    )

    token = st.text(alphabet="abcdé北", min_size=0, max_size=6)
    name = st.lists(token, min_size=1, max_size=5).map(" ".join)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.tuples(name, name), min_size=1, max_size=40))
    def check(pairs):
        av = [p[0] for p in pairs]
        bv = [p[1] for p in pairs]
        cov, contra, expand = _token_features_batch(av, bv)
        for i, (x, y) in enumerate(pairs):
            tx, ty = sorted(x.split(" ")), sorted(y.split(" "))
            assert cov[i] == _cover_tok(tx, ty), (x, y)
            assert contra[i] == _contra_tok(tx, ty), (x, y)
            assert expand[i] == _expand_tok(tx, ty), (x, y)

    check()
