"""Unit tests for the round-3 curation additions: temperature mixing,
token-window chunking, PMI collocations, C4 line filtering, and
SemDeDup-style semantic dedup."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from xpysom_dask_spark.operators import sampling
from xpysom_dask_spark.operators import similarity
from xpysom_dask_spark.operators import text as T
from xpysom_dask_spark.operators.som import SparkSom


@pytest.fixture(scope="module")
def skewed_sources(spark):
    # 800 rows of 'crawl', 150 of 'books', 50 of 'wiki'
    rows = [(i, "crawl" if i < 800 else ("books" if i < 950 else "wiki"))
            for i in range(1000)]
    return spark.createDataFrame(rows, "doc_id bigint, source string")


def test_temperature_alpha_one_keeps_everything(spark, skewed_sources):
    out = sampling.temperature_mix(skewed_sources, "doc_id", "source",
                                   alpha=1.0).toPandas()
    assert len(out) == 1000
    assert (out["keep_rate"] == 1.0).all()


def test_temperature_alpha_zero_equalizes(spark, skewed_sources):
    out = sampling.temperature_mix(skewed_sources, "doc_id", "source",
                                   alpha=0.0).toPandas()
    rates = out.groupby("source")["keep_rate"].first()
    # rate ∝ 1/n, normalized so the smallest stratum keeps all
    assert rates["wiki"] == 1.0
    assert math.isclose(rates["books"], 50 / 150)
    assert math.isclose(rates["crawl"], 50 / 800)
    # realized counts near the expected equal sizes (hash-uniform)
    n = out.groupby("source").size()
    assert n["wiki"] == 50
    assert 30 <= n["books"] <= 70 and 30 <= n["crawl"] <= 70


def test_temperature_subset_chain(spark, skewed_sources):
    lo = sampling.temperature_mix(skewed_sources, "doc_id", "source",
                                  alpha=0.2)
    hi = sampling.temperature_mix(skewed_sources, "doc_id", "source",
                                  alpha=0.6)
    lo_ids = {r[0] for r in lo.select("doc_id").collect()}
    hi_ids = {r[0] for r in hi.select("doc_id").collect()}
    # higher alpha → higher per-stratum rates → superset
    assert lo_ids <= hi_ids


def test_temperature_rejects_bad_alpha(spark, skewed_sources):
    with pytest.raises(ValueError, match="alpha"):
        sampling.temperature_mix(skewed_sources, "doc_id", "source",
                                 alpha=float("nan"))


def test_chunk_tokens_tiling_and_overlap(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, ""), (3, "  x  ")],
        "id bigint, text string")
    tiled = {(r["chunk_idx"]): r for r in
             T.chunk_tokens(df, "text", "id", window=3).collect()
             if r["id"] == 1}
    assert [tiled[i]["chunk_text"] for i in range(3)] == \
        ["a b c", "d e f", "g"]
    assert [tiled[i]["n_tokens"] for i in range(3)] == [3, 3, 1]

    slid = [r for r in
            T.chunk_tokens(df, "text", "id", window=3, stride=2)
            .orderBy("id", "chunk_idx").collect()]
    by_doc = {}
    for r in slid:
        by_doc.setdefault(r["id"], []).append(r["chunk_text"])
    assert by_doc[1] == ["a b c", "c d e", "e f g", "g"]
    assert 2 not in by_doc          # empty doc → no chunks
    assert by_doc[3] == ["x"]       # whitespace-only tokenizes to one


def test_chunk_tokens_validation(spark):
    df = spark.createDataFrame([(1, "a")], "id bigint, text string")
    with pytest.raises(ValueError, match="window"):
        T.chunk_tokens(df, "text", "id", window=0)
    with pytest.raises(ValueError, match="stride"):
        T.chunk_tokens(df, "text", "id", window=3, stride=0)


def test_collocations_pmi_matches_hand_computation(spark):
    # "new york" appears 6×; "the the" 4×; singles pad the totals
    docs = (["new york"] * 6 + ["the the"] * 4 + ["the cat", "a dog"])
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               "id bigint, text string")
    out = {(r["term_a"], r["term_b"]): r for r in
           T.collocations(df, "text", min_count=4, top_k=10).collect()}
    assert set(out) == {("new", "york"), ("the", "the")}
    n_pairs = 12            # one bigram per 2-token doc
    n_unis = 24
    exp = math.log((6 / n_pairs) / ((6 / n_unis) * (6 / n_unis)))
    assert out[("new", "york")]["n_pair"] == 6
    assert math.isclose(out[("new", "york")]["pmi"], round(exp, 6),
                        abs_tol=1e-6)
    # 'the' unigram count is 9 (4×2 + 1)
    exp2 = math.log((4 / n_pairs) / ((9 / n_unis) * (9 / n_unis)))
    assert math.isclose(out[("the", "the")]["pmi"], round(exp2, 6),
                        abs_tol=1e-6)


def test_collocations_empty_corpus(spark):
    df = spark.createDataFrame([(1, "")], "id bigint, text string")
    assert T.collocations(df, "text").count() == 0


def test_c4_line_filter_rules(spark):
    text = "\n".join([
        "This is a good sentence.",        # keep
        "Too short.",                      # < 3 words
        "no terminal punctuation here",    # no punct
        "This line has { code } in it.",   # brace
        "Lorem ipsum dolor sit amet.",     # lorem
        "Please enable JavaScript to continue.",  # javascript
        '"A quoted line stays in."',       # keep (quote ending)
    ])
    df = spark.createDataFrame([(1, text), (2, "x\ny")],
                               "doc_id bigint, text string")
    out = {r["id"]: r for r in
           T.c4_line_filter(df, "text", "doc_id").collect()}
    assert out[1]["n_lines"] == 7 and out[1]["n_kept"] == 2
    assert out[1]["text_clean"].split("\n") == [
        "This is a good sentence.", '"A quoted line stays in."']
    assert out[2]["n_kept"] == 0 and out[2]["text_clean"] == ""


def _toy_som():
    # 2×2 codebook in 4-dim, one axis direction per cell
    som = SparkSom(2, 2, 4, random_seed=3, dtype=np.float64,
                   activation_distance="norm_p_no_opt",
                   activation_distance_kwargs={"p": 2},
                   features_col="embedding")
    som._weights = np.eye(4).reshape(2, 2, 4)
    return som


def test_semantic_dedup_drops_later_near_dups(spark):
    base = np.eye(4)
    rows = []
    # ids 0-3: one clean row per cell; 10-13: scaled copies (cos = 1)
    for i in range(4):
        rows.append((i, (base[i] * 2.0).tolist()))
        rows.append((10 + i, (base[i] * 5.0).tolist()))
    # id 20: same cell as 0 but nearly orthogonal in-cell vector
    rows.append((20, [10.0, 0.0, 0.0, 9.9]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = similarity.semantic_dedup(_toy_som(), df, threshold=0.95)
    kept = sorted(r["vec_id"] for r in out.collect())
    assert kept == [0, 1, 2, 3, 20]


def test_semantic_dedup_max_cell_guard(spark):
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="max_cell"):
        similarity.semantic_dedup(_toy_som(), df, threshold=0.99,
                                  max_cell=10)


def test_bigram_lm_score_hand_computed(spark):
    docs = [(1, "the cat sat"), (2, "the the"), (3, "solo")]
    df = spark.createDataFrame(docs, "id bigint, text string")
    out = {r["id"]: r for r in
           T.bigram_logprob_score(df, "text", "id", lam=0.5).collect()}
    # corpus: tokens = [the,cat,sat,the,the,solo] N=6; n(the)=3
    # bigrams: (the,cat) (cat,sat) (the,the)
    import math as m
    def p(n_ab, n_a, n_b):
        return 0.5 * (n_ab / n_a) + 0.5 * (n_b / 6)
    exp1 = (m.log(p(1, 3, 1)) + m.log(p(1, 1, 1))) / 2
    exp2 = m.log(p(1, 3, 3))
    assert out[1]["n_bigrams"] == 2
    assert abs(out[1]["avg_logp"] - round(exp1, 6)) < 1e-6
    assert abs(out[2]["avg_logp"] - round(exp2, 6)) < 1e-6
    assert 3 not in out          # single-token doc: no bigrams


def test_bigram_lm_orders_junk_below_prose(spark):
    # repeated natural phrase vs same words shuffled per doc
    prose = [(i, "the quick brown fox jumps") for i in range(10)]
    junk = [(100 + i, "fox the jumps quick brown") for i in range(2)]
    df = spark.createDataFrame(prose + junk, "id bigint, text string")
    out = T.bigram_logprob_score(df, "text", "id").collect()
    avg_p = sum(r["avg_logp"] for r in out if r["id"] < 100) / 10
    avg_j = sum(r["avg_logp"] for r in out if r["id"] >= 100) / 2
    assert avg_p > avg_j


def _py_chunks(text, window, stride):
    toks = [t for t in text.split() if t]
    out = []
    for start in range(0, len(toks), stride):
        c = toks[start:start + window]
        out.append((start // stride, " ".join(c), len(c)))
    return out


def _py_c4(text, min_words=3):
    kept = []
    lines = text.split("\n")
    for x in lines:
        t = x.strip(" ")
        ok = (bool(t) and t[-1] in '.!?"'
              and len([w for w in t.split() if w]) >= min_words
              and "{" not in x
              and "lorem ipsum" not in x.lower()
              and "javascript" not in x.lower())
        if ok:
            kept.append(x)
    return "\n".join(kept), len(lines), len(kept)


def test_chunk_and_c4_match_python_reference(spark):
    import random

    rng = random.Random(11)
    words = ["alpha", "beta", "Gamma", "delta", "{x}", "JavaScript",
             "lorem", "ipsum", "ok.", "fine!", 'q"', "mid"]
    docs = []
    for i in range(200):
        n_lines = rng.randint(0, 4)
        lines = [" ".join(rng.choice(words)
                          for _ in range(rng.randint(0, 8)))
                 for _ in range(n_lines)]
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    got = {}
    for r in T.chunk_tokens(df, "text", "doc_id",
                            window=4, stride=3).collect():
        got.setdefault(r["id"], []).append(
            (r["chunk_idx"], r["chunk_text"], r["n_tokens"]))
    for i, text in docs:
        exp = _py_chunks(text.replace("\n", " "), 4, 3)
        # \s+ split treats newlines as whitespace, same as .split()
        assert sorted(got.get(i, [])) == sorted(exp), i

    out = {r["id"]: r for r in
           T.c4_line_filter(df, "text", "doc_id").collect()}
    for i, text in docs:
        clean, n_lines, n_kept = _py_c4(text)
        assert out[i]["n_lines"] == n_lines, i
        assert out[i]["n_kept"] == n_kept, (i, text)
        assert out[i]["text_clean"] == clean, i


def test_dedup_substrings_removes_long_duplicate_runs(spark):
    from xpysom_dask_spark.operators import dedup

    boiler = "one two three four five six seven eight"       # 8 tokens
    docs = [
        (1, f"intro {boiler} outro"),
        (2, f"{boiler} tail words here"),                    # dup run
        (3, "totally unrelated text body"),
        (4, f"lead {boiler}"),                               # dup run
        (5, "short doc"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r["id"]: r for r in dedup.dedup_substrings(
        df, "text", "doc_id", min_tokens=8).collect()}
    # doc 1 holds the first occurrence: untouched
    assert out[1]["n_removed"] == 0
    assert out[1]["text_clean"] == f"intro {boiler} outro"
    # docs 2 and 4 lose exactly the 8-token run, keep their own words
    assert out[2]["n_removed"] == 8
    assert out[2]["text_clean"] == "tail words here"
    assert out[4]["n_removed"] == 8
    assert out[4]["text_clean"] == "lead"
    # untouched and short docs pass through whole
    assert out[3]["n_removed"] == 0
    assert out[5]["text_clean"] == "short doc"
    assert out[5]["n_tokens"] == 2


def test_dedup_substrings_covers_longer_runs_and_self_repeat(spark):
    from xpysom_dask_spark.operators import dedup

    run = " ".join(f"w{i}" for i in range(12))
    docs = [(1, run), (2, f"a b {run} c d"),       # 12-token dup > L=8
            (3, f"{run} {run}")]                   # copies of doc 1
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r["id"]: r for r in dedup.dedup_substrings(
        df, "text", "doc_id", min_tokens=8).collect()}
    # stride-1 windows cover the FULL 12-token run in doc 2
    assert out[2]["text_clean"] == "a b c d"
    assert out[2]["n_removed"] == 12
    # doc 1 is canonical, so BOTH of doc 3's copies vanish
    assert out[3]["n_removed"] == 24
    assert out[3]["text_clean"] == ""

    # self-repetition alone: the doc's own first copy is canonical
    solo = spark.createDataFrame([(7, f"{run} {run}")],
                                 "doc_id bigint, text string")
    o = dedup.dedup_substrings(solo, "text", "doc_id",
                               min_tokens=8).collect()[0]
    assert o["n_removed"] == 12
    assert o["text_clean"] == run


def test_new_text_ops_tolerate_null_text(spark):
    from xpysom_dask_spark.operators import dedup

    df = spark.createDataFrame([(1, None), (2, "a b c d")],
                               "doc_id bigint, text string")
    # chunk: null doc yields no chunks, never size(-1) artifacts
    chunks = T.chunk_tokens(df, "text", "doc_id", window=2).collect()
    assert {r["id"] for r in chunks} == {2}
    # c4: null doc = one empty line, nothing kept, no negative counts
    c4 = {r["id"]: r for r in
          T.c4_line_filter(df, "text", "doc_id").collect()}
    assert c4[1]["n_lines"] == 1 and c4[1]["n_kept"] == 0
    assert c4[1]["text_clean"] == ""
    # collocations / bigram LM: null contributes nothing
    assert T.collocations(df, "text", min_count=1).count() == 3
    lm = {r["id"] for r in
          T.bigram_logprob_score(df, "text", "doc_id").collect()}
    assert lm == {2}
    # substring dedup: null doc passes through as empty, zero removed
    sub = {r["id"]: r for r in dedup.dedup_substrings(
        df, "text", "doc_id", min_tokens=2).collect()}
    assert sub[1]["text_clean"] == "" and sub[1]["n_removed"] == 0
    assert sub[1]["n_tokens"] == 0
    assert sub[2]["text_clean"] == "a b c d"


def test_compression_ratio_orders_repetitive_below_prose(spark):
    rep = "spam ham " * 200
    prose = ("The committee reviewed seventeen distinct proposals "
             "before adjourning; none survived scrutiny unscathed, "
             "though several earned qualified praise.") * 3
    df = spark.createDataFrame(
        [(1, rep), (2, prose), (3, None), (4, "")],
        "doc_id bigint, text string")
    out = {r["id"]: r for r in
           T.compression_ratio(df, "text", "doc_id").collect()}
    assert out[1]["compression_ratio"] < out[2]["compression_ratio"]
    assert out[1]["compression_ratio"] < 0.1      # highly repetitive
    assert out[3]["compression_ratio"] == 0.0     # NULL = empty
    assert out[4]["compression_ratio"] == 0.0
    assert out[1]["n_bytes"] == len(rep.encode())
    import zlib
    exp = len(zlib.compress(rep.encode(), 6)) / len(rep.encode())
    assert abs(out[1]["compression_ratio"] - exp) < 1e-12
    with pytest.raises(ValueError, match="level"):
        T.compression_ratio(df, "text", "doc_id", level=0)


# ---------------------------------------------------------------------- #
# round-4: Bloom-filter decontamination


@pytest.fixture(scope="module")
def contamination_corpora(spark):
    """Train corpus where ids 0-9 each share a 5-gram with a test doc."""
    phrase = "the quick brown fox jumps"
    train = [(i, f"doc {i} says {phrase} and then rambles uniquely "
                 f"about topic{i} forever") for i in range(10)]
    train += [(i, f"clean document {i} with entirely distinct words "
                  f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}")
              for i in range(10, 40)]
    test = [(1000, f"evaluation item containing {phrase} verbatim")]
    return (spark.createDataFrame(train, "doc_id bigint, text string"),
            spark.createDataFrame(test, "doc_id bigint, text string"))


def test_bloom_decontaminate_matches_exact_at_default_m(
        spark, contamination_corpora):
    from xpysom_dask_spark.operators import dedup

    train, test = contamination_corpora
    exact = {r.doc_id for r in dedup.decontaminate(
        train, test, "text", "doc_id", n=5).select("doc_id").collect()}
    bloom = {r.doc_id for r in dedup.bloom_decontaminate(
        train, test, "text", "doc_id", n=5).select("doc_id").collect()}
    # at m=2^20 with this tiny corpus there are no false positives
    assert bloom == exact
    assert exact == set(range(10, 40))


def test_bloom_survivors_never_exceed_exact(spark, contamination_corpora):
    """Raw mode (verify=False): FPs only ever DROP extra docs —
    survivors ⊆ exact survivors, even with a deliberately saturated
    64-bit filter.  Verified mode: the same saturated filter still
    returns EXACTLY the exact rule's survivors (the confirmation join
    rescues every false flag)."""
    from xpysom_dask_spark.operators import dedup

    train, test = contamination_corpora
    exact = {r.doc_id for r in dedup.decontaminate(
        train, test, "text", "doc_id", n=5).select("doc_id").collect()}
    raw = {r.doc_id for r in dedup.bloom_decontaminate(
        train, test, "text", "doc_id", n=5, m_bits=64, k=3,
        verify=False).select("doc_id").collect()}
    assert raw <= exact
    assert raw < exact          # 64 bits IS saturated here: real FPs
    rescued = {r.doc_id for r in dedup.bloom_decontaminate(
        train, test, "text", "doc_id", n=5, m_bits=64, k=3)
        .select("doc_id").collect()}
    assert rescued == exact


def test_bloom_bitmap_is_bounded_relation(spark, contamination_corpora):
    from xpysom_dask_spark.operators import dedup

    train, test = contamination_corpora
    sh = dedup.word_shingles(test, "text", "doc_id", 5)
    bm = dedup.bloom_bitmap(sh, m_bits=1 << 10, k=3).collect()
    assert len(bm) <= (1 << 10) // 32
    assert all(r.mask != 0 for r in bm)
    with pytest.raises(ValueError):
        dedup.bloom_bitmap(sh, m_bits=100)


def test_dedup_incremental_across_batches(spark, tmp_path):
    from xpysom_dask_spark.operators import dedup

    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id bigint, text string")
    s1, idx1 = dedup.dedup_incremental(b1, "text", "doc_id")
    assert {r.doc_id for r in s1.collect()} == {1, 2}   # keep-first

    # persist the index like a real pipeline would, then ingest batch 2
    path = str(tmp_path / "fp_index")
    idx1.write.parquet(path)
    idx = spark.read.parquet(path)
    b2 = spark.createDataFrame(
        [(10, "beta text"),            # dup of batch-1 survivor
         (11, "gamma text"),           # new
         (12, "gamma text")],          # within-batch dup
        "doc_id bigint, text string")
    s2, idx2 = dedup.dedup_incremental(b2, "text", "doc_id", idx)
    assert {r.doc_id for r in s2.collect()} == {11}
    # index now covers all three distinct texts, nothing else
    assert idx2.distinct().count() == 3


def test_near_dedup_incremental_across_batches(spark):
    from xpysom_dask_spark.operators import dedup

    mk = lambda rows: spark.createDataFrame(rows,
                                            "doc_id bigint, text string")
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the quiet green field all day long")
    b1 = mk([(1, base),
             (2, "completely different content about spark plans and "
                 "shuffle exchanges in distributed engines today")])
    s1, idx1 = dedup.near_dedup_incremental(b1, "text", "doc_id",
                                            threshold=0.5)
    assert {r.doc_id for r in s1.collect()} == {1, 2}
    assert idx1.count() == 2

    b2 = mk([(10, base),                       # exact sig match vs id 1
             (11, "fresh unrelated words entirely novel tokens nothing "
                  "shared with any earlier document whatsoever here"),
             (12, "fresh unrelated words entirely novel tokens nothing "
                  "shared with any earlier document whatsoever here")])
    s2, idx2 = dedup.near_dedup_incremental(b2, "text", "doc_id", idx1,
                                            threshold=0.5)
    kept = {r.doc_id for r in s2.collect()}
    assert kept == {11}            # 10 dup-vs-history, 12 dup-in-batch
    assert idx2.count() == 3       # ids 1, 2 + survivor 11
    assert set(idx2.columns) == {"id"} | {f"mh_{i}" for i in range(8)}


def test_near_dedup_incremental_within_batch_matches_row_form(spark):
    """Survivors and index from the per-document set table equal the
    row-form chain (shingles → signatures → band pairs → jaccard_verify
    → components keep-first), values and schema, over a repeated id, a
    short doc, NULL text, a NULL id and shingles repeated in a doc."""
    from xpysom_dask_spark.operators import dedup
    from xpysom_dask_spark.operators.graph import connected_components

    near = "one two three four five six seven eight nine ten eleven"
    df = spark.createDataFrame(
        [(1, near), (2, near.replace("eleven", "zebra")),
         (3, near.replace("one", "uno")), (3, "red green blue cyan"),
         (4, "a b"), (5, None), (None, near),
         (6, "red green blue cyan magenta yellow black white"),
         (7, "red green blue cyan magenta yellow black grey"),
         (8, "p q r s t u p q r s t u w"), (9, "p q r s t u p q r s t u v")],
        "doc_id bigint, text string")
    surv, idx = dedup.near_dedup_incremental(df, "text", "doc_id",
                                             threshold=0.5)

    sh = dedup.word_shingles(df, "text", "doc_id")
    sigs = dedup.minhash_signatures_from_shingles(sh)
    verified = dedup.jaccard_verify(dedup.minhash_band_pairs(sigs), sh, 0.5)
    comp = connected_components(verified.select("id_a", "id_b"))
    ref_surv = df.join(comp.where("id != component")
                       .selectExpr("id AS doc_id"), "doc_id", "left_anti")
    ref_idx = sigs.join(ref_surv.selectExpr("doc_id AS id"), "id",
                        "left_semi")
    assert surv.schema == ref_surv.schema
    assert idx.schema == ref_idx.schema
    assert sorted(surv.collect(), key=repr) == \
        sorted(ref_surv.collect(), key=repr)
    assert sorted(idx.collect(), key=repr) == \
        sorted(ref_idx.collect(), key=repr)
    assert not {2, 9} & {r.doc_id for r in surv.collect()}


def test_decontaminate_spans_excises_exact_windows(spark):
    """Span excision: every token covered by a test-matching 5-gram
    window goes, everything else stays (whitespace-normalized), docs
    never drop, and the train side stays a zero-Exchange map chain."""
    from xpysom_dask_spark.operators import dedup

    leak = "alpha beta gamma delta epsilon"          # the leaked 5-gram
    train = spark.createDataFrame(
        [(1, f"intro words {leak} closing remark"),   # leak mid-doc
         (2, "totally unrelated clean text here okay"),
         (3, leak),                                   # doc IS the leak
         (4, "short doc")],                           # < n tokens
        "doc_id bigint, text string")
    test = spark.createDataFrame(
        [(9, f"prefix {leak} suffix")], "doc_id bigint, text string")

    out = dedup.decontaminate_spans(train, test, "text", "doc_id", n=5)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}                  # nothing dropped
    assert rows[1]["text"] == "intro words closing remark"
    assert rows[1]["n_removed"] == 5
    assert rows[2]["text"] == \
        "totally unrelated clean text here okay"
    assert rows[2]["n_removed"] == 0
    assert rows[3]["text"] == "" and rows[3]["n_removed"] == 5
    assert rows[4]["text"] == "short doc"
    assert rows[4]["n_removed"] == 0

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_decontaminate_spans_overlapping_windows_union(spark):
    """Overlapping contaminated windows cover the UNION of their
    positions — a 6-token run whose two 5-gram windows both leak
    removes 6 tokens, not 10."""
    from xpysom_dask_spark.operators import dedup

    run6 = "a b c d e f"
    train = spark.createDataFrame(
        [(1, f"keep {run6} keep")], "doc_id bigint, text string")
    test = spark.createDataFrame(
        [(9, run6)], "doc_id bigint, text string")
    r = dedup.decontaminate_spans(train, test, "text", "doc_id",
                                  n=5).collect()[0]
    assert r["text"] == "keep keep"
    assert r["n_removed"] == 6


def test_dedup_lines_removes_corpus_boilerplate(spark):
    """Lines in >= min_df distinct docs go from EVERY doc (including
    the first occurrence — the dedup_spans contrast); unique lines and
    line order survive; all-boilerplate docs come back empty."""
    from xpysom_dask_spark.operators import dedup

    nav = "home | products | contact"
    train = spark.createDataFrame(
        [(1, f"{nav}\nunique article one\nbye"),
         (2, f"intro two\n{nav}\nbody two"),
         (3, nav),
         (4, "totally unique document")],
        "doc_id bigint, text string")
    out = dedup.dedup_lines(train, "text", "doc_id", min_df=2)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]["text"] == "unique article one\nbye"
    assert rows[1]["n_lines_removed"] == 1
    assert rows[2]["text"] == "intro two\nbody two"
    assert rows[3]["text"] == "" and rows[3]["n_lines_removed"] == 1
    assert rows[4]["text"] == "totally unique document"
    assert rows[4]["n_lines_removed"] == 0

    # min_df above corpus multiplicity → no-op
    clean = dedup.dedup_lines(train, "text", "doc_id", min_df=5)
    assert all(r["n_lines_removed"] == 0 for r in clean.collect())
    with pytest.raises(ValueError, match="min_df"):
        dedup.dedup_lines(train, "text", "doc_id", min_df=0)


def test_dedup_lines_counts_distinct_docs_not_occurrences(spark):
    """A line repeated 3x inside ONE doc is df=1 — not boilerplate at
    min_df=2 (document frequency, not raw occurrences)."""
    from xpysom_dask_spark.operators import dedup

    rep = "la la la"
    train = spark.createDataFrame(
        [(1, f"{rep}\n{rep}\n{rep}\nend")],
        "doc_id bigint, text string")
    r = dedup.dedup_lines(train, "text", "doc_id",
                          min_df=2).collect()[0]
    assert r["text"] == f"{rep}\n{rep}\n{rep}\nend"
    assert r["n_lines_removed"] == 0


def test_compact_minhash_index_preserves_decisions(spark):
    """Vacuuming identical-signature rows from the persisted near-dup
    index keeps subsequent dedup decisions bit-identical: band keys
    and the agreement statistic are pure functions of the signature,
    so only redundant rows go."""
    from xpysom_dask_spark.operators import dedup

    mk = lambda rows: spark.createDataFrame(rows,
                                            "doc_id bigint, text string")
    base = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the quiet green field all day long")
    other = ("completely different content about spark plans and "
             "shuffle exchanges in distributed engines today")
    _, idx = dedup.near_dedup_incremental(mk([(1, base), (2, other)]),
                                          "text", "doc_id",
                                          threshold=0.5)
    # simulate the max_bucket-skew leak: the same signatures re-enter
    # under new ids (identical text → identical k-hash vector)
    _, sigs_dup = dedup.near_dedup_incremental(
        mk([(7, base), (8, other)]), "text", "doc_id", threshold=0.5)
    bloated = idx.unionByName(sigs_dup)
    assert bloated.count() == 4

    compacted = dedup.compact_minhash_index(bloated)
    rows = compacted.collect()
    # survivors-only: one row per distinct signature, lowest id kept
    assert len(rows) == 2
    assert {r["id"] for r in rows} == {1, 2}
    assert set(compacted.columns) == \
        {"id"} | {f"mh_{i}" for i in range(8)}

    # identical subsequent decisions vs the bloated index
    b2 = mk([(10, base),
             (11, "fresh unrelated words entirely novel tokens nothing "
                  "shared with any earlier document whatsoever here")])
    kept_bloated, _ = dedup.near_dedup_incremental(
        b2, "text", "doc_id", bloated, threshold=0.5)
    kept_compacted, _ = dedup.near_dedup_incremental(
        b2, "text", "doc_id", compacted, threshold=0.5)
    assert {r.doc_id for r in kept_bloated.collect()} == \
        {r.doc_id for r in kept_compacted.collect()} == {11}

    # idempotent: compacting twice is a no-op
    again = dedup.compact_minhash_index(compacted)
    assert sorted(map(tuple, again.collect())) == \
        sorted(map(tuple, rows))


def test_bloom_merge_equals_rebuilt_filter(spark):
    """OR-merging per-batch bitmaps == one bitmap over the union —
    the incremental ingest-guard update rule."""
    from xpysom_dask_spark.operators import dedup

    a = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{i} tail{i}") for i in range(40)],
        ["doc_id", "text"])
    b = spark.createDataFrame(
        [(100 + i, f"epsilon zeta eta theta doc{i} x{i}") for i in range(40)],
        ["doc_id", "text"])
    m = 1 << 16
    sha = dedup.word_shingles(a, "text", "doc_id", 3, distinct=False)
    shb = dedup.word_shingles(b, "text", "doc_id", 3, distinct=False)
    merged = dedup.bloom_merge(dedup.bloom_bitmap(sha, m),
                               dedup.bloom_bitmap(shb, m))
    full = dedup.bloom_bitmap(sha.unionByName(shb), m)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, full.collect()))


# ---------------------------------------------------------------------- #
# fingerprint fast paths (round 7): the byte/char-hybrid min-shingle and
# split-based rolling hash must stay bit-identical to the definition —
# pinned against an engine-independent Python reference

_FP_CASES = [
    "", "x", "ab", "exactly8", "sevench",
    "the quick brown fox jumps over the lazy dog",
    "  Leading  and   trailing  whitespace\tand\ntabs  ",
    "MiXeD CaSe TeXt With NUMBERS 12345 and punct!?",
    "héllo wörld ünïcode tèxt",            # latin-1-ish multi-byte
    "日本語のテキストです 深層学習 モデル",     # CJK (3-byte chars)
    "mixed ascii and 中文 chars here",      # forces the char fallback
]


def _py_min_shingle(text, width=8):
    import hashlib
    import re

    # trim(regexp_replace(lower(text), '\s+', ' ')) with Java's ASCII \s
    t = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ")
    n = max(len(t) - width + 1, 1)
    return min(hashlib.md5(t[i:i + width].encode("utf-8")).hexdigest()
               for i in range(n))


def test_min_shingle_fingerprint_matches_python_reference(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(_FP_CASES)],
                               "i bigint, text string")
    got = {r["i"]: r["fp"] for r in df.select(
        "i", T.min_shingle_fingerprint("text").alias("fp")).collect()}
    for i, s in enumerate(_FP_CASES):
        assert got[i] == _py_min_shingle(s), (i, s)


def test_rolling_hash_matches_python_reference(spark):
    ascii_cases = [s for s in _FP_CASES if s.isascii()]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(ascii_cases)],
        "i bigint, text string")
    got = {r["i"]: r["h"] for r in df.select(
        "i", T.rolling_hash("text").alias("h")).collect()}
    for i, s in enumerate(ascii_cases):
        acc = 0
        for ch in s:
            acc = (acc * T.HASH_BASE + ord(ch)) % T.HASH_PRIME
        assert got[i] == acc, (i, s)


def test_dedup_exact_normalized_catches_reflows(spark):
    """The fuzzy-exact key: case, punctuation, and whitespace reflows
    collide; genuinely different text does not — vs a pure-Python
    replay of the normalization."""
    import hashlib
    import re

    from xpysom_dask_spark.operators.dedup import (
        dedup_exact, dedup_exact_normalized)

    rows = [
        (1, "The quick brown fox, jumps over the lazy dog."),
        (2, "the  quick\tbrown fox jumps over the lazy dog"),
        (3, "THE QUICK BROWN FOX -- JUMPS OVER THE LAZY DOG!!!"),
        (4, "a different document entirely"),
        (5, "A different document; entirely..."),
        (6, "the quick brown fox jumps over the lazy cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    groups = {r["fp"]: (r["keeper"], r["n_copies"]) for r in
              dedup_exact_normalized(df, "text", "doc_id").collect()}

    def norm(t):
        t = re.sub(r"[^a-z0-9\s]+", " ", t.lower())
        return re.sub(r"\s+", " ", t).strip()

    def fp(t):
        return hashlib.md5(norm(t).encode()).hexdigest()

    assert groups[fp(rows[0][1])] == (1, 3)     # docs 1, 2, 3 collide
    assert groups[fp(rows[3][1])] == (4, 2)     # docs 4, 5 collide
    assert groups[fp(rows[5][1])] == (6, 1)     # different text alone
    # raw-exact sees 6 distinct groups on the same input
    assert dedup_exact(df, "text", "doc_id").count() == 6
