"""Property-based tests (hypothesis): invariants that must hold for
ANY input, not just fixtures — the SCD2 single-current/contiguous-
version invariant under arbitrary batch sequences, the validate-split
partition property, and text-function parity with a pure-Python
reference model."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import text as T
from nyc_taxi_data_engineering_spark.operators import iterate, scd2

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# small key/value spaces force collisions, updates, and no-op batches
batches_strategy = st.lists(
    st.lists(
        st.tuples(st.integers(0, 3), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=5,
    ),
    min_size=1,
    max_size=4,
)


@given(batches=batches_strategy)
@settings(**SETTINGS)
def test_scd2_invariants_hold_for_any_batch_sequence(spark, batches):
    """After any sequence of merges: exactly one current row per key,
    version numbers contiguous from 1, and exactly the keys ever seen
    are present."""
    frames = [spark.createDataFrame(batch, "k int, val string") for batch in batches]
    target = iterate(
        scd2.scd2_init(frames[0], key="k", tracked=["val"], effective_ts="2024-01-01"),
        lambda t, i: scd2.scd2_apply(
            t, frames[i + 1], key="k", tracked=["val"], effective_ts=f"2024-01-0{i + 2}"
        ),
        len(frames) - 1,
    )
    rows = target.collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    seen_keys = {k for batch in batches for k, _ in batch}
    assert set(by_key) == seen_keys
    for k, versions in by_key.items():
        assert sum(1 for r in versions if r["is_current"]) == 1, f"key {k}"
        assert sorted(r["version_no"] for r in versions) == list(range(1, len(versions) + 1))
    # the verify operator agrees
    assert scd2.scd2_verify(target, "k").count() == 0


@given(
    texts=st.lists(
        st.text(alphabet="ab .!7\t", min_size=0, max_size=40), min_size=1, max_size=8
    )
)
@settings(**SETTINGS)
def test_text_functions_match_python_model(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            T.token_count_ws(F.col("text")).alias("ws"),
            T.token_count_bpe(F.col("text")).alias("bpe"),
            T.punct_count(F.col("text")).alias("punct"),
        ).collect()
    }
    for i, t in enumerate(texts):
        # Spark's trim() (like DuckDB's) strips SPACES only, not \t/\n —
        # the Python model must match that, not str.strip()
        assert got[i]["ws"] == len(re.split(r"\s+", t.strip(" ")))
        assert got[i]["bpe"] == len(re.findall(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]", t))
        assert got[i]["punct"] == len(re.findall(r"[^A-Za-z0-9\s]", t))


@given(
    rows=st.lists(
        st.tuples(st.integers(-5, 100), st.floats(-10, 10, allow_nan=False)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_validate_split_is_a_partition(spark, rows):
    """good + bad rows re-assemble the input exactly; no row is in
    both; the split predicate is total (no NULL leakage)."""
    df = spark.createDataFrame([(i, q, v) for i, (q, v) in enumerate(rows)], "i long, q int, v double")
    pred = (F.col("q") > 0) & (F.col("v") >= 0)
    good = df.filter(pred)
    bad = df.filter(~pred | pred.isNull())
    ids_good = {r["i"] for r in good.select("i").collect()}
    ids_bad = {r["i"] for r in bad.select("i").collect()}
    assert ids_good | ids_bad == set(range(len(rows)))
    assert not (ids_good & ids_bad)


_WORD_CHARS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
_BLOCK_ALPHABET = _WORD_CHARS + "+.#$*()[]{}|\\^?-"
blockword_strategy = st.text(alphabet=_BLOCK_ALPHABET, min_size=1, max_size=8)


@given(words=st.lists(blockword_strategy, min_size=1, max_size=4, unique=True))
@settings(**SETTINGS)
def test_blocklist_pattern_matches_each_word_in_context(words):
    """Pure-regex property (no Spark; Python `re` is a third engine
    agreeing with Java/RE2 on the ASCII subset we emit): for ANY
    escaped blockword, the generated alternation (a) compiles, (b)
    finds the word when it stands alone between spaces, and (c) never
    fires on a word-char-edged word embedded inside a longer
    alphanumeric run (the \\b contract)."""
    from nyc_taxi_data_engineering_spark.operators.scrub import blocklist_pattern

    pat = re.compile(blocklist_pattern(words))
    for w in words:
        assert pat.search(f"pad {w} pad") is not None, w
    for w in words:
        if w.isalnum():
            single = re.compile(blocklist_pattern([w]))
            assert single.search(f"q{w}q") is None, w


# -- RAG chunking: pure-Python reference model ------------------------------

texts_strategy = st.lists(
    st.text(
        alphabet=st.sampled_from("ab c"),  # spaces force multi-token docs
        min_size=1,
        max_size=400,
    ),
    min_size=1,
    max_size=6,
)


def _ref_chunks(text: str) -> list[tuple[int, int, str]]:
    """Reference chunker: (chunk_id, start_token_1based, chunk_text)."""
    from nyc_taxi_data_engineering_spark.queries.lmprep import CHUNK_STRIDE, CHUNK_TOKENS

    toks = re.split(r"\s+", text.strip())
    n = len(toks)
    if n <= CHUNK_TOKENS:
        k = 1
    else:
        k = (n - CHUNK_TOKENS + CHUNK_STRIDE - 1) // CHUNK_STRIDE + 1
    return [
        (i, i * CHUNK_STRIDE + 1, " ".join(toks[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_TOKENS]))
        for i in range(k)
    ]


@given(texts=texts_strategy)
@settings(**SETTINGS)
def test_chunking_matches_python_reference_for_any_text(spark, texts, tmp_path_factory):
    """doc_chunks_rag must agree with a direct Python implementation on
    arbitrary whitespace-soup inputs (empty tokens, single-token docs,
    exact window multiples)."""
    import uuid

    from nyc_taxi_data_engineering_spark.queries import run

    d = tmp_path_factory.mktemp("chunks") / f"{uuid.uuid4().hex}"
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(d / "documents.parquet"))
    out, _ = run(spark, "doc_chunks_rag", str(d), lambda df: df.collect())
    got = {(r["doc_id"], r["chunk_id"], r["start_token"], r["chunk_text"]) for r in out}
    want = {
        (i, cid, start, txt)
        for i, t in enumerate(texts)
        for cid, start, txt in _ref_chunks(t)
    }
    assert got == want


# -- shuffle shards: permutation properties ---------------------------------


@given(n_shards=st.integers(1, 7))
@settings(**SETTINGS)
def test_shuffle_shards_is_a_stable_total_assignment(spark, n_shards):
    """(shard, pos) is a bijection onto contiguous positions per shard,
    and the assignment is identical across partition layouts."""
    from nyc_taxi_data_engineering_spark.operators.sampling import shuffle_shards

    rows = [(i,) for i in range(50)]
    df1 = spark.createDataFrame(rows, "k long").repartition(1)
    df8 = spark.createDataFrame(rows, "k long").repartition(8)
    a = {r["k"]: (r["shard"], r["pos"]) for r in shuffle_shards(df1, "k", n_shards).collect()}
    b = {r["k"]: (r["shard"], r["pos"]) for r in shuffle_shards(df8, "k", n_shards).collect()}
    assert a == b  # layout-independent
    by_shard: dict[int, list[int]] = {}
    for shard, pos in a.values():
        assert 0 <= shard < n_shards
        by_shard.setdefault(shard, []).append(pos)
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(1, len(positions) + 1)), shard


def _greedy_merge_ref(syms: list[str], left: str, right: str) -> list[str]:
    """Pure-Python reference of the greedy left-to-right BPE merge."""
    out: list[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = left + right
        else:
            out.append(s)
    return out


@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6), min_size=1, max_size=5
    ),
    merges=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c", "ab", "bc", "a</w>", "b</w>"]),
                  st.sampled_from(["a", "b", "c", "</w>", "ab", "c</w>"])),
        min_size=1,
        max_size=4,
    ),
)
@settings(**SETTINGS)
def test_apply_bpe_matches_python_reference(spark, words, merges):
    """apply_bpe's native F.aggregate fold must equal the pure-Python
    greedy merge for ANY word list and ANY merge sequence (including
    chained merges whose left/right symbols are earlier outputs)."""
    from nyc_taxi_data_engineering_spark.operators.bpe import BPE_EOW, apply_bpe

    text = " ".join(words)
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = apply_bpe(docs, merges).collect()[0]
    want: list[str] = []
    for w in words:
        syms = list(w) + [BPE_EOW]
        for l, r in merges:
            syms = _greedy_merge_ref(syms, l, r)
        want.extend(syms)
    assert got["bpe_tokens"] == want
    assert got["n_bpe_tokens"] == len(want)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)),
        min_size=1,
        max_size=12,
    ),
)
@settings(**SETTINGS)
def test_pagerank_mass_conserved_on_any_graph(spark, edges):
    """Total rank mass stays 1.0 (± the 12-dp rounding accumulation)
    for ANY directed graph — self-loops, sinks, disconnected nodes-as-
    destinations, parallel edges — thanks to the dangling-mass
    redistribution."""
    from nyc_taxi_data_engineering_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], "src string, dst string"
    )
    ranks = pagerank(df).collect()
    nodes = {f"n{a}" for a, b in edges} | {f"n{b}" for a, b in edges}
    assert {r["node"] for r in ranks} == nodes
    assert abs(sum(r["rank"] for r in ranks) - 1.0) < 1e-8
    assert all(r["rank"] > 0 for r in ranks)
