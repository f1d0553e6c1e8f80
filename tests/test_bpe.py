"""BPE induction/encoding vs a pure-Python reference implementation of
Sennrich et al. 2016 (the subword-nmt algorithm) on the same corpus."""

import collections

import pytest
from pyspark.sql import functions as F

from xpysom_dask_spark.operators import bpe


# ---------------------------------------------------------------- #
# reference implementation (classic dict-of-words BPE)

def _ref_vocab(texts):
    v = collections.Counter()
    for t in texts:
        for w in t.lower().split():
            if w:
                v[w] += 1
    return {tuple(list(w) + [bpe.EOW]): c for w, c in v.items()}


def _ref_pair_counts(vocab):
    pc = collections.Counter()
    for syms, c in vocab.items():
        for i in range(len(syms) - 1):
            pc[(syms[i], syms[i + 1])] += c
    return pc


def _ref_merge(vocab, pair):
    a, b = pair
    out = {}
    for syms, c in vocab.items():
        s, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                s.append(a + b)
                i += 2
            else:
                s.append(syms[i])
                i += 1
        out[tuple(s)] = out.get(tuple(s), 0) + c
    return out


def _ref_learn(texts, num_merges, min_count=2):
    vocab = _ref_vocab(texts)
    merges = []
    for _ in range(num_merges):
        pc = _ref_pair_counts(vocab)
        if not pc:
            break
        # (count DESC, pair ASC) — the operator's tie-break
        pair = min(pc.items(), key=lambda kv: (-kv[1],
                                               kv[0][0] + " " + kv[0][1]))
        if pair[1] < min_count:
            break
        merges.append(pair[0])
        vocab = _ref_merge(vocab, pair[0])
    return merges


CORPUS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest wide",
    "low newer wide lower new",
    "the the the the quick quick brown fox",
]


def test_learn_bpe_matches_reference(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], ["text"])
    got = bpe.learn_bpe(df, "text", num_merges=12)
    want = _ref_learn(CORPUS, 12)
    assert got == want
    assert len(got) == 12


def test_both_execution_paths_agree(spark):
    """driver_vocab_limit=0 forces the distributed merge loop; the
    default collects the vocab and loops locally — identical tables."""
    df = spark.createDataFrame([(t,) for t in CORPUS], ["text"])
    local = bpe.learn_bpe(df, "text", num_merges=8)
    dist = bpe.learn_bpe(df, "text", num_merges=8, driver_vocab_limit=0)
    assert local == dist == _ref_learn(CORPUS, 8)


def test_learn_bpe_early_stop_and_validation(spark):
    df = spark.createDataFrame([("ab cd",)], ["text"])
    got = bpe.learn_bpe(df, "text", num_merges=50, min_count=2)
    want = _ref_learn(["ab cd"], 50, min_count=2)
    assert got == want
    assert len(got) < 50            # corpus exhausts before 50 merges
    with pytest.raises(ValueError, match="num_merges"):
        bpe.learn_bpe(df, "text", num_merges=0)


def test_encode_applies_merges_greedily(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], ["text"])
    merges = bpe.learn_bpe(df, "text", num_merges=10)
    enc = bpe.bpe_encode(df, "text", merges)
    rows = enc.select("text", "bpe_tokens").collect()
    assert len(rows) == len(CORPUS)
    for r in rows:
        toks = r["bpe_tokens"]
        # reconstruction: stripping EOW markers and joining restores
        # the normalized text
        words, cur = [], ""
        for t in toks:
            cur += t
            if cur.endswith(bpe.EOW):
                words.append(cur[: -len(bpe.EOW)])
                cur = ""
        assert cur == ""
        assert words == [w for w in r["text"].lower().split() if w]
    # frequent words compress to fewer symbols than their length
    low = next(r for r in rows if r["text"].startswith("low lower"))
    n_low_tokens = low["bpe_tokens"]
    first_word_len = 0
    for t in n_low_tokens:
        first_word_len += 1
        if t.endswith(bpe.EOW):
            break
    assert first_word_len < len("low") + 1


def test_encode_with_no_merges_is_characters(spark):
    df = spark.createDataFrame([("ab",)], ["text"])
    rows = bpe.bpe_encode(df, "text", []).collect()
    assert rows[0]["bpe_tokens"] == ["a", "b", bpe.EOW]


def test_vocab_and_ids_roundtrip(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], ["text"])
    merges = bpe.learn_bpe(df, "text", num_merges=6)
    vocab = bpe.bpe_vocab(merges)
    # base ASCII block, then EOW, then one id per merge in order
    assert vocab["!"] == 1 and vocab[bpe.EOW] == 95
    assert all(vocab[l + r] == 96 + i
               for i, (l, r) in enumerate(merges) if l + r not in
               {m[0] + m[1] for m in merges[:i]})
    ids = bpe.bpe_encode_ids(df, "text", merges)
    inv = {v: k for k, v in vocab.items()}
    for r in ids.select("text", "token_ids").collect():
        text = "".join(inv[i] for i in r["token_ids"]) \
            .replace(bpe.EOW, " ").strip()
        assert text == " ".join(r["text"].lower().split())
        assert all(i >= 0 for i in r["token_ids"])


def test_encode_ids_equal_vocab_mapping_of_encode(spark):
    """``bpe_encode_ids`` is ``bpe_encode`` followed by the vocab
    lookup — including the unknown-symbol id — for every document."""
    texts = CORPUS + ["naïve café lowest", "", "   "]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "id bigint, text string")
    merges = bpe.learn_bpe(df, "text", num_merges=10)
    vocab = bpe.bpe_vocab(merges)
    toks = {r["id"]: r["bpe_tokens"]
            for r in bpe.bpe_encode(df, "text", merges).collect()}
    ids = {r["id"]: r["token_ids"] for r in
           bpe.bpe_encode_ids(df, "text", merges, unk_id=-7).collect()}
    assert ids == {i: [vocab.get(s, -7) for s in t]
                   for i, t in toks.items()}
    assert -7 in ids[len(CORPUS)]        # ï / é are outside the vocab


def test_bpe_decode_roundtrip(spark):
    """encode → decode returns the encoder's normalization exactly
    (lowercase, whitespace collapsed); ids → decode_ids agrees; an
    out-of-table id decodes to the UNK token."""
    texts = ["The cat sat  on\tthe mat", "low lower lowest",
             "Spark engines  PLAN declaratively"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id bigint, text string")
    merges = bpe.learn_bpe(df, "text", num_merges=12)
    want = {i: " ".join(t.lower().split()) for i, t in enumerate(texts)}

    enc = bpe.bpe_encode(df, "text", merges)
    dec = {r["id"]: r["text_decoded"]
           for r in bpe.bpe_decode(enc, "bpe_tokens").collect()}
    assert dec == want

    ids = bpe.bpe_encode_ids(df, "text", merges)
    dec2 = {r["id"]: r["text_decoded"]
            for r in bpe.bpe_decode_ids(ids, "token_ids",
                                        merges).collect()}
    assert dec2 == want

    bad = spark.createDataFrame([(0, [99999, -5])],
                                "id bigint, token_ids array<int>")
    out = bpe.bpe_decode_ids(bad, "token_ids", merges).first()
    assert out["text_decoded"] == "[UNK][UNK]"


def test_incremental_local_loop_matches_recount_reference():
    """optimization r13: _learn_local maintains pair counts
    incrementally (retract/assert per rewritten word) instead of
    recounting every round — differential vs the recount-per-round
    reference on repeat-heavy random corpora (multi-occurrence pairs
    inside one word exercise the multiplicity-aware retraction)."""
    import random

    rng = random.Random(13)
    for _ in range(6):
        wc = {}
        for _ in range(rng.randint(30, 300)):
            w = "".join(rng.choice("abcab")
                        for _ in range(rng.randint(1, 10)))
            wc[w] = wc.get(w, 0) + rng.randint(1, 9)
        nm = rng.randint(1, 50)
        got = bpe._learn_local(dict(wc), nm, 2)

        vocab = {}
        for w, c in wc.items():
            syms = tuple(list(w) + [bpe.EOW])
            vocab[syms] = vocab.get(syms, 0) + c
        want = []
        for _ in range(nm):
            pc = _ref_pair_counts(vocab)
            if not pc:
                break
            pair, cnt = min(pc.items(),
                            key=lambda kv: (-kv[1],
                                            kv[0][0] + " " + kv[0][1]))
            if cnt < 2:
                break
            want.append(pair)
            vocab = _ref_merge(vocab, pair)
        assert got == want
