"""BPE tokenizer training/encoding: exact parity with an independent
pure-Python reference implementation (the rows-only registry queries'
real correctness gate), greedy-merge semantics pins, and the
train->encode consistency guarantee."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from data_integration_pipelines_spark.operators.bpe import (
    EOW,
    apply_merge,
    bpe_encode,
    bpe_train,
    word_frequency_table,
)
from tests.conftest import SF_SMALL

# ---------------------------------------------------------------------------
# independent reference implementation (list/Counter-based, no Spark)
# ---------------------------------------------------------------------------


def _ref_apply(toks: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return tuple(out)


def ref_bpe_train(texts: list[str], n_merges: int, min_freq: int = 2):
    words = Counter(w for t in texts for w in t.split())
    vocab: list[tuple[tuple[str, ...], int]] = [
        (tuple(list(w) + [EOW]), f) for w, f in words.items()
    ]
    merges = []
    for rank in range(n_merges):
        pc: Counter = Counter()
        for toks, f in vocab:
            for p in zip(toks, toks[1:]):
                pc[p] += f
        if not pc:
            break
        (a, b), freq = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if freq < min_freq:
            break
        merges.append((rank, a, b, a + b, freq))
        vocab = [(_ref_apply(toks, a, b), f) for toks, f in vocab]
    return merges, vocab


CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "wider wider new new low",
]


# ---------------------------------------------------------------------------
# merge-application semantics (the greedy fold)
# ---------------------------------------------------------------------------


def test_apply_merge_nonoverlapping_left_to_right(spark):
    df = spark.createDataFrame(
        [(["a", "a", "a", "a", EOW],), (["a", "b", "a", "a", "a", EOW],)],
        "tokens array<string>",
    )
    got = [
        r[0]
        for r in df.select(apply_merge(F.col("tokens"), "a", "a")).collect()
    ]
    # "aaaa" -> [aa, aa], never [aa, a, a]; the odd run keeps its tail
    assert got[0] == ["aa", "aa", EOW]
    assert got[1] == ["a", "b", "aa", "a", EOW]


def test_apply_merge_merged_token_does_not_remerge(spark):
    df = spark.createDataFrame([(["x", "y", "y", EOW],)], "tokens array<string>")
    got = df.select(apply_merge(F.col("tokens"), "x", "y")).collect()[0][0]
    # after (x,y)->xy the result is NOT re-scanned for (x,y)
    assert got == ["xy", "y", EOW]


def test_apply_merge_matches_reference_on_random_runs(spark):
    import itertools

    cases = [
        tuple(w) + (EOW,)
        for w in itertools.product("ab", repeat=5)
    ]
    df = spark.createDataFrame([(list(c),) for c in cases], "tokens array<string>")
    got = [
        tuple(r[0])
        for r in df.select(apply_merge(F.col("tokens"), "a", "b")).collect()
    ]
    assert got == [_ref_apply(c, "a", "b") for c in cases]


# ---------------------------------------------------------------------------
# training parity
# ---------------------------------------------------------------------------


def test_bpe_train_matches_reference_exactly(spark):
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = [tuple(r) for r in bpe_train(docs, n_merges=12).collect()]
    want, _ = ref_bpe_train(CORPUS, n_merges=12)
    assert got == want
    # the fixture is non-vacuous: several merges actually learned,
    # including multi-char symbols
    assert len(want) >= 8
    assert any(len(m[3]) > 2 for m in want)


def test_bpe_train_matches_reference_on_real_documents(spark):
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
    )
    texts = [r["text"] for r in docs.collect()]
    got = [tuple(r) for r in bpe_train(docs, n_merges=10).collect()]
    want, _ = ref_bpe_train(texts, n_merges=10)
    assert got == want


def test_bpe_train_distributed_route_matches_reference(spark, monkeypatch):
    # r11: small vocabs auto-route to a driver-side merge loop. Pin the
    # cap's boundary (cap = the vocab's char-token cells -> driver
    # route, one less -> the DISTRIBUTED loop) so the parity of the
    # distributed loop against the reference — and against the driver
    # route — stays pinned
    from data_integration_pipelines_spark.operators import bpe as bpe_mod

    driver_train = bpe_mod._driver_train
    driver_calls = []

    def spy(*args):
        driver_calls.append(1)
        return driver_train(*args)

    monkeypatch.setattr(bpe_mod, "_driver_train", spy)
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    cells = sum(len(w) + 1 for w in {w for t in CORPUS for w in t.split()})
    monkeypatch.setattr(bpe_mod, "MAX_DRIVER_VOCAB_CELLS", cells)
    via_driver = [tuple(r) for r in bpe_train(docs, n_merges=12).collect()]
    assert len(driver_calls) == 1
    monkeypatch.setattr(bpe_mod, "MAX_DRIVER_VOCAB_CELLS", cells - 1)
    via_cluster = [tuple(r) for r in bpe_train(docs, n_merges=12).collect()]
    assert len(driver_calls) == 1
    want, _ = ref_bpe_train(CORPUS, n_merges=12)
    assert via_cluster == want
    assert via_driver == via_cluster


def test_bpe_train_deterministic_across_partitionings(spark):
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    a = [tuple(r) for r in bpe_train(docs.repartition(7), n_merges=8).collect()]
    b = [tuple(r) for r in bpe_train(docs.coalesce(1), n_merges=8).collect()]
    assert a == b


def test_bpe_train_min_freq_stops_before_hapax_pairs(spark):
    docs = spark.createDataFrame([("zq zq zq xj",)], "text string")
    merges = bpe_train(docs, n_merges=50, min_freq=2).collect()
    # pairs of freq >= 2 exist only inside "zq</w>" (freq 3); "xj" is a
    # hapax and must never be merged
    assert all(m["pair_freq"] >= 2 for m in merges)
    assert all("x" not in m["merged"] for m in merges)


def test_bpe_train_empty_corpus_returns_empty_table(spark):
    docs = spark.createDataFrame([("",), ("   ",)], "text string")
    out = bpe_train(docs, n_merges=5)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "rank",
        "left",
        "right",
        "merged",
        "pair_freq",
    ]


# ---------------------------------------------------------------------------
# encoding
# ---------------------------------------------------------------------------


def test_encode_reproduces_training_tokenization(spark):
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    merges = [
        (r["left"], r["right"]) for r in bpe_train(docs, n_merges=12).collect()
    ]
    _, ref_vocab = ref_bpe_train(CORPUS, n_merges=12)
    final = {"".join(t).removesuffix(EOW): list(t) for t, _ in ref_vocab}
    words = spark.createDataFrame(
        [(w,) for w in final], "text string"
    )
    enc = {
        r["text"]: r["bpe_tokens"]
        for r in bpe_encode(words, merges).collect()
    }
    # every training word encodes to exactly its final training tokens
    assert enc == final


def test_encode_unseen_word_applies_partial_merges(spark):
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    merges = [
        (r["left"], r["right"]) for r in bpe_train(docs, n_merges=12).collect()
    ]
    df = spark.createDataFrame([("lowest slowest",)], "text string")
    toks = bpe_encode(df, merges).collect()[0]["bpe_tokens"]
    # tokens concatenate back to the words + EOW markers (lossless)
    assert "".join(toks) == "lowest" + EOW + "slowest" + EOW
    # learned subwords fire on unseen words ("low" is a trained symbol)
    assert "low" in toks


def test_encode_empty_and_whitespace_text(spark):
    df = spark.createDataFrame([("",), ("   ",), (None,)], "text string")
    rows = bpe_encode(df, [("a", "b")]).collect()
    assert all(r["bpe_tokens"] == [] for r in rows)


# ---------------------------------------------------------------------------
# registry entries
# ---------------------------------------------------------------------------


def test_registry_bpe_queries_run(spark):
    from data_integration_pipelines_spark.plans import REGISTRY

    merges = REGISTRY["bpe_train_merges"].fn(spark, SF_SMALL).collect()
    assert 1 <= len(merges) <= 24
    assert [m["rank"] for m in merges] == list(range(len(merges)))

    enc = REGISTRY["bpe_encode_tokens"].fn(spark, SF_SMALL)
    pdf = enc.toPandas()
    assert len(pdf) > 0
    # BPE can only shorten-or-equal a char stream, and must produce at
    # least as many tokens as whitespace words (each word >= 1 token)
    assert (pdf["n_bpe_tokens"] >= pdf["n_ws_tokens"]).all()
    # since r7 the pair carries golden-table oracles (the checked-in
    # output of THIS file's pure-Python reference, digest-keyed per
    # corpus) — a regression turns the driver row red, not only pytest
    assert "VALUES" in REGISTRY["bpe_train_merges"].oracle
    assert "VALUES" in REGISTRY["bpe_encode_tokens"].oracle
    assert REGISTRY["bpe_train_merges"].time_build


def test_word_frequency_table_is_single_pass(spark):
    docs = spark.createDataFrame([("a b a",), ("b a",)], "text string")
    rows = {
        r["word"]: r["freq"]
        for r in word_frequency_table(docs).collect()
    }
    assert rows == {"a": 3, "b": 2}
