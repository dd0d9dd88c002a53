"""Unit tests for the round-1 extension training-data operators:
Gopher-style repetition quality, PII redaction, TF-IDF top-k,
per-source rollup, corpus n-gram counts."""
from __future__ import annotations

import math
from collections import Counter

import pytest

from pdf_extractor_spark.kernels.textstats import normalize
from pdf_extractor_spark.operators import text_analysis

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


# -- gopher_quality ----------------------------------------------------------

def _gopher_ref(text: str) -> tuple[int, float, float, float]:
    norm = normalize(text)
    toks = norm.split(" ") if norm else []
    n, nchars = len(toks), len(norm)
    mwl = sum(map(len, toks)) / n if n else 0.0
    topbg = 0.0
    if n >= 2 and nchars:
        bg = Counter(zip(toks, toks[1:]))
        topbg = min(1.0, max(c * (len(a) + len(b) + 1) for (a, b), c in bg.items()) / nchars)
    duptg = 0.0
    if n >= 3 and nchars:
        tg = Counter(zip(toks, toks[1:], toks[2:]))
        dup = sum(c * (len(a) + len(b) + len(g) + 2) for (a, b, g), c in tg.items() if c > 1)
        duptg = min(1.0, dup / nchars)
    return n, mwl, topbg, duptg


def test_gopher_quality_matches_python(spark, docs):
    got = text_analysis.gopher_quality(docs).collect()
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(got) == len(raw)
    for r in got:
        n, mwl, topbg, duptg = _gopher_ref(raw[r["doc_id"]])
        assert r["n_words"] == n
        assert abs(r["mean_word_len"] - mwl) < 1e-5
        assert abs(r["top_bigram_frac"] - topbg) < 1e-5
        assert abs(r["dup_trigram_frac"] - duptg) < 1e-5
        keep = (n >= 50 and 3.0 <= mwl <= 10.0 and topbg <= 0.20 and duptg <= 0.30)
        assert r["keep"] == keep


def test_gopher_quality_edges(spark):
    rows = [
        (1, ""),                       # empty
        (2, "word"),                   # single token: no bigrams
        (3, "a b"),                    # one bigram occurring once
        (4, "spam spam spam spam spam spam"),  # heavy repetition -> reject
        (5, " ".join(["alpha beta gamma"] * 20)),  # dup trigrams
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text_analysis.gopher_quality(df).collect()}
    assert got[1]["n_words"] == 0 and got[1]["keep"] is False
    assert got[2]["top_bigram_frac"] == 0.0
    # "a b": one bigram, count 1, len 3, norm len 3 -> frac 1.0 (capped)
    assert got[3]["top_bigram_frac"] == 1.0
    assert got[4]["top_bigram_frac"] > 0.2 and got[4]["keep"] is False
    assert got[5]["dup_trigram_frac"] > 0.3 and got[5]["keep"] is False


# -- redact_pii --------------------------------------------------------------

def test_redact_pii(spark):
    rows = [
        (1, "reach me at alice.smith+work@corp.example.org today"),
        (2, "server 192.168.001.1 and backup 10.0.0.254 are up"),
        (3, "call +1-555-0147 or +44-123-4567 now"),
        (4, "no pii here at all"),
        (5, "combo bob@x.io on 172.16.2.9 tel +1-555-9999"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text_analysis.redact_pii(df).collect()}
    assert got[1]["clean_text"] == "reach me at [EMAIL] today"
    assert (got[1]["n_emails"], got[1]["n_phones"], got[1]["n_ips"]) == (1, 0, 0)
    assert got[2]["clean_text"] == "server [IP] and backup [IP] are up"
    assert got[2]["n_ips"] == 2
    assert got[3]["clean_text"] == "call [PHONE] or [PHONE] now"
    assert got[3]["n_phones"] == 2
    assert got[4]["clean_text"] == "no pii here at all"
    assert (got[4]["n_emails"], got[4]["n_phones"], got[4]["n_ips"]) == (0, 0, 0)
    assert got[5]["clean_text"] == "combo [EMAIL] on [IP] tel [PHONE]"


# -- tfidf_topk --------------------------------------------------------------

def test_tfidf_topk_small(spark):
    rows = [
        (1, "apple apple banana cherry"),
        (2, "banana banana banana cherry"),
        (3, "cherry date date apple"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = text_analysis.tfidf_topk(df, k=2).collect()
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: apple tf=2 (df=2) ranks above banana/cherry tf=1
    assert by_doc[1][0]["term"] == "apple" and by_doc[1][0]["tf"] == 2
    # doc 2: banana tf=3; second is cherry (tf=1, df=3)
    assert by_doc[2][0]["term"] == "banana" and by_doc[2][0]["tf"] == 3
    # doc 3: date tf=2 df=1 -> top; score = 2*ln(4/2)
    assert by_doc[3][0]["term"] == "date"
    assert abs(by_doc[3][0]["tfidf"] - round(2 * math.log(4 / 2), 6)) < 1e-9
    for rows_ in by_doc.values():
        assert [r["rank"] for r in rows_] == [1, 2]


def test_tfidf_rank_is_deterministic_on_ties(spark):
    # equal tf and df -> lexicographic term order breaks the tie
    df = spark.createDataFrame([(1, "zeta alpha"), (2, "zeta alpha")],
                               ["doc_id", "text"])
    got = text_analysis.tfidf_topk(df, k=2).collect()
    for doc in (1, 2):
        terms = [r["term"] for r in got if r["doc_id"] == doc]
        assert terms == ["alpha", "zeta"]


# -- source_rollup -----------------------------------------------------------

def test_source_rollup_matches_python(spark, docs):
    got = {r["source"]: r for r in text_analysis.source_rollup(docs).collect()}
    rows = docs.collect()
    per: dict[str, list] = {}
    for r in rows:
        per.setdefault(r["source"], []).append(r)
    assert set(got) == set(per)
    for src, rs in per.items():
        g = got[src]
        assert g["docs"] == len(rs)
        assert g["total_chars"] == sum(r["n_chars"] for r in rs)
        langs = Counter(r["lang"] for r in rs)
        assert g["n_langs"] == len(langs)
        top = max(langs.items(), key=lambda kv: (kv[1], [-ord(c) for c in kv[0]]))
        # deterministic: max count, lexicographically first among ties
        best_n = max(langs.values())
        expected_top = min(l for l, c in langs.items() if c == best_n)
        assert g["top_lang"] == expected_top, (src, top)
        n = len(rs)
        ent = -sum((c / n) * math.log(c / n) for c in langs.values())
        assert abs(g["lang_entropy"] - ent) < 1e-5


# -- corpus_top_ngrams -------------------------------------------------------

def test_corpus_top_ngrams_small(spark):
    rows = [
        (1, "the quick brown fox"),
        (2, "the quick brown cat"),
        (3, "a b"),          # shorter than n=3: contributes nothing
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [(r["gram"], r["cnt"]) for r in
           text_analysis.corpus_top_ngrams(df).collect()]
    assert got[0] == ("the quick brown", 2)
    assert ("quick brown fox", 1) in got and ("quick brown cat", 1) in got
    assert all(" b" not in g or g.count(" ") == 2 for g, _ in got)


def test_corpus_top_ngrams_respects_k_and_order(spark, docs):
    got = text_analysis.corpus_top_ngrams(docs).collect()
    assert len(got) == 20
    counts = [r["cnt"] for r in got]
    assert counts == sorted(counts, reverse=True)
    # within equal counts, grams ascend
    for a, b in zip(got, got[1:]):
        if a["cnt"] == b["cnt"]:
            assert a["gram"] < b["gram"]


# -- decontaminate -----------------------------------------------------------

def test_decontaminate_flags_overlap(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog every day"),
            (2, "completely unrelated words about cooking pasta and sauce here"),
            (3, "the quick brown fox jumps over the lazy dog again today"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "we note the quick brown fox jumps over the lazy dog indeed")],
        ["doc_id", "text"],
    )
    from pdf_extractor_spark.operators import dedup

    got = {r["doc_id"]: r for r in dedup.decontaminate(train, bench, n=8).collect()}
    assert got[1]["contaminated"] is True    # shares the 8-gram span
    assert got[2]["contaminated"] is False
    assert got[2]["overlap_ngrams"] == 0
    assert got[3]["contaminated"] is True
    assert len(got) == 3                      # total over input


# -- sentence_self_dedup -----------------------------------------------------

def test_sentence_self_dedup(spark):
    from pdf_extractor_spark.operators import dedup

    rows = [
        (1, "alpha one. beta two. alpha one. gamma three. beta two"),
        (2, "no repeats here"),
        (3, "same. same. same. same"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["clean_text"]
           for r in dedup.sentence_self_dedup(df).collect()}
    assert got[1] == "alpha one. beta two. gamma three"
    assert got[2] == "no repeats here"
    assert got[3] == "same"
    assert len(got) == 3


# -- stratified_sample -------------------------------------------------------

def test_stratified_sample_rates_and_determinism(spark, docs):
    got1 = text_analysis.stratified_sample(docs).collect()
    got2 = text_analysis.stratified_sample(docs).collect()
    assert sorted(r["doc_id"] for r in got1) == sorted(r["doc_id"] for r in got2)
    for r in got1:
        assert r["bucket"] < r["rate"]
        expected_rate = {"en": 100, "zh": 25}.get(r["lang"], 50)
        assert r["rate"] == expected_rate
    # every en doc survives (rate 100)
    n_en = docs.where("lang = 'en'").count()
    assert sum(1 for r in got1 if r["lang"] == "en") == n_en
    # non-en strata are genuinely downsampled
    n_rest = docs.where("lang <> 'en'").count()
    assert sum(1 for r in got1 if r["lang"] != "en") < n_rest


# -- training_mix_pipeline ----------------------------------------------------

def test_training_mix_pipeline_consistency(spark, docs):
    rows = text_analysis.training_mix_pipeline(docs).collect()
    got: dict[str, list] = {}
    for r in rows:
        assert r["bucket"] in {"head", "middle", "tail"}
        assert r["stage"] in {"ccnet_mix", "approx_ccnet_mix",
                              "dsir_selected", "qcls_selected"}
        if r["stage"] == "ccnet_mix":
            got.setdefault(r["lang"], []).append(r)
    # every selection stage is a subset of the ccnet mixture, cell by cell
    base = {(r["lang"], r["bucket"]): r["survivors"] for r in rows
            if r["stage"] == "ccnet_mix"}
    # the approx-tercile stage re-buckets the SAME survivor set, so its
    # per-language totals must match the exact stage's exactly
    for lang in {r["lang"] for r in rows}:
        exact_n = sum(r["survivors"] for r in rows
                      if r["stage"] == "ccnet_mix" and r["lang"] == lang)
        approx_n = sum(r["survivors"] for r in rows
                       if r["stage"] == "approx_ccnet_mix"
                       and r["lang"] == lang)
        assert approx_n == exact_n
    for r in rows:
        if r["stage"] in ("dsir_selected", "qcls_selected"):
            assert r["survivors"] <= base[(r["lang"], r["bucket"])]
    gate = {r["doc_id"]: r["n_words"] for r in
            text_analysis.gopher_quality(docs).where("keep").collect()}
    sampled = {(r["doc_id"], r["lang"]) for r in
               text_analysis.stratified_sample(docs).collect()}
    per: dict[str, list] = {}
    for doc_id, lang in sampled:
        if doc_id in gate:
            per.setdefault(lang, []).append(gate[doc_id])
    # per-language totals are bucket-invariant: summing the (lang, bucket)
    # grain back up must reproduce the old per-language mixture
    assert set(got) == set(per)
    for lang, words in per.items():
        assert sum(r["survivors"] for r in got[lang]) == len(words)
        wavg = sum(r["survivors"] * r["avg_words"] for r in got[lang]) / len(words)
        assert abs(wavg - sum(words) / len(words)) < 1e-4


def test_lm_perplexity_buckets_ranks_repetitive_text_as_head(spark, docs):
    out = text_analysis.lm_perplexity_buckets(docs).collect()
    assert len(out) == docs.count()
    by_lang: dict[str, list] = {}
    for r in out:
        assert r["ppl"] >= 1.0 or abs(r["ppl"] - 1.0) < 1e-9
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        # terciles are balanced to within 1 and ordered: every head ppl
        # <= every middle ppl <= every tail ppl
        counts = {b: sum(1 for r in rows if r["bucket"] == b)
                  for b in ("head", "middle", "tail")}
        assert max(counts.values()) - min(counts.values()) <= 1
        hi_head = max((r["ppl"] for r in rows if r["bucket"] == "head"),
                      default=float("-inf"))
        lo_tail = min((r["ppl"] for r in rows if r["bucket"] == "tail"),
                      default=float("inf"))
        assert hi_head <= lo_tail


def test_lm_perplexity_approx_terciles_agree_with_exact(spark, docs):
    """The sort-free tercile arm (one percentile_approx aggregate per
    language, cutpoints broadcast — training_mix_pipeline's 100 TB stage)
    composed over lm_perplexity_buckets must produce VALUE-monotone
    buckets (every head ppl <= every middle ppl <= every tail ppl, by
    construction of cutpoint bucketing), identical ppl scores, and
    near-total agreement with the rank-exact ntile path — only ties and
    boundary docs may move one bucket."""
    from pyspark.sql import functions as F

    pplf = text_analysis.lm_perplexity_buckets(docs)
    exact = {r["doc_id"]: r for r in pplf.collect()}
    approx = pplf.join(
        F.broadcast(text_analysis._approx_tercile_cuts(pplf)), "lang").select(
        "doc_id", "lang", "ppl",
        text_analysis._approx_tercile_bucket().alias("bucket")).collect()
    assert len(approx) == len(exact)
    order = {"head": 0, "middle": 1, "tail": 2}
    by_lang: dict[str, list] = {}
    agree = 0
    for r in approx:
        assert r["ppl"] == exact[r["doc_id"]]["ppl"]  # scoring unchanged
        agree += r["bucket"] == exact[r["doc_id"]]["bucket"]
        by_lang.setdefault(r["lang"], []).append(r)
    assert agree / len(approx) >= 0.95
    for lang, rows in by_lang.items():
        for b_lo, b_hi in (("head", "middle"), ("middle", "tail")):
            hi = max((r["ppl"] for r in rows if r["bucket"] == b_lo),
                     default=float("-inf"))
            lo = min((r["ppl"] for r in rows if r["bucket"] == b_hi),
                     default=float("inf"))
            assert hi <= lo, (lang, b_lo, b_hi)
        # disagreements vs exact are confined to bucket-adjacent moves
        for r in rows:
            assert abs(order[r["bucket"]]
                       - order[exact[r["doc_id"]]["bucket"]]) <= 1


def test_dsir_weights_prefer_target_like_documents(spark):
    # target = en slice; an en-vocab doc must outweigh a disjoint-vocab doc
    docs = spark.createDataFrame(
        [(1, "en", "the cat sat on the mat with the hat"),
         (2, "en", "the dog sat on the rug with the cat"),
         (3, "zz", "zork blork quux fnord glorp wibble zork blork"),
         (4, "zz", "quux fnord wibble glorp zork snark blork quux")],
        "doc_id long, lang string, text string",
    )
    out = {r["doc_id"]: r["dsir_weight"]
           for r in text_analysis.dsir_weights(docs).collect()}
    assert len(out) == 4
    # the DSIR contract is the ORDERING: target-like docs outweigh
    # off-target docs. (Per-doc signs are not asserted — with a toy
    # vocabulary, a single hash-bucket collision between an en gram and a
    # repeated zz gram can push an en doc slightly negative.)
    assert min(out[1], out[2]) > max(out[3], out[4])
    assert out[3] < 0 and out[4] < 0


def test_lm_perplexity_self_trained_repetition_scores_lower(spark):
    # a doc that is one bigram repeated dominates the LM mass -> lowest ppl;
    # a doc of singleton transitions scores highest
    docs = spark.createDataFrame(
        [(1, "en", "ab cd " * 40), (2, "en", "q w e r t y u i o p"),
         (3, "en", "ab cd ef gh ab cd")],
        "doc_id long, lang string, text string",
    )
    out = {r["doc_id"]: r["ppl"]
           for r in text_analysis.lm_perplexity_buckets(docs).collect()}
    assert out[1] < out[3] < out[2]


def _committed_weights(spark, store: str) -> list[float]:
    """The B+5 weights quality_classifier committed to its weight store."""
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    rows = SnapshotTable(store).read(spark).collect()
    return [r["val"] for r in sorted(rows, key=lambda r: r["i"])]


def test_quality_classifier_twin_parity_and_separation(spark, tmp_path):
    """The distributed Adagrad trainer must equal the pure-Python twin
    BIT-FOR-BIT (that identity is what licenses pinning trained weights as
    oracle literals), and the trained model must actually separate: on a
    corpus with clearly-good and clearly-bad documents it predicts both
    classes and agrees with the Gopher gate on the unambiguous ones."""
    good = ("the quick brown fox jumps over the lazy dog near the river "
            "bank while children play games outside under bright summer "
            "skies and old friends share long stories about distant towns "
            "gardens markets ships forests mountains rivers valleys roads "
            "bridges houses schools libraries museums theaters stations ")
    rows = []
    for i in range(12):
        rows.append((i, f"{good} extra words number {i} close the text"))
    for i in range(12, 24):
        rows.append((i, f"spam spam spam buy now {i} " * 3))  # short+repetitive
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "qcls_w")
    text_analysis.quality_classifier(docs, weight_store=store)
    w = _committed_weights(spark, store)
    wt = text_analysis._quality_classifier_twin([(i, t) for i, t in rows])
    assert w == wt  # exact float equality, element-wise
    preds = {r["doc_id"]: r["pred"] for r in
             text_analysis.quality_classifier_scores(docs, w).collect()}
    n_pos = sum(1 for i in range(12) if preds[i])
    n_neg = sum(1 for i in range(12, 24) if not preds[i])
    assert n_pos >= 10 and n_neg >= 10


def test_quality_classifier_shared_feats_path_matches_two_pass(
        spark, docs, tmp_path):
    """quality_classifier (train+score over one persisted feature table)
    must equal scoring with its trained weights in a separate pass."""
    store = str(tmp_path / "qcls_w")
    one = {(r["doc_id"], r["logit"], r["pred"])
           for r in text_analysis.quality_classifier(
               docs, weight_store=store).collect()}
    w = _committed_weights(spark, store)
    two = {(r["doc_id"], r["logit"], r["pred"])
           for r in text_analysis.quality_classifier_scores(docs, w).collect()}
    assert one == two


def test_quality_classifier_weight_store_matches_fresh_and_invalidates(
        spark, tmp_path):
    """The classifier weight store must return bit-identical scores to
    fresh training (training is deterministic), serve the committed
    weights on a hit instead of retraining, and invalidate on content or
    id-binding change (the kmeans_centroids_stored discipline)."""
    d = spark.createDataFrame(
        [(i, ("good clean prose with varied words number %d. " % i) * 6
          if i % 2 else "spam spam spam spam " * 20)
         for i in range(24)],
        "doc_id long, text string")
    root = str(tmp_path / "qcls")
    fresh = {(r["doc_id"], r["logit"], r["pred"])
             for r in text_analysis.quality_classifier(d).collect()}
    miss = {(r["doc_id"], r["logit"], r["pred"])
            for r in text_analysis.quality_classifier(
                d, weight_store=root).collect()}
    hit = {(r["doc_id"], r["logit"], r["pred"])
           for r in text_analysis.quality_classifier(
               d, weight_store=root).collect()}
    assert fresh == miss == hit
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    snap = SnapshotTable(root).current_manifest()["snapshot_id"]
    # hit path must not have recommitted
    text_analysis.quality_classifier(d, weight_store=root).collect()
    assert SnapshotTable(root).current_manifest()["snapshot_id"] == snap
    # id rotation with the identical text multiset must retrain (binding key)
    rot = spark.createDataFrame(
        [((r["doc_id"] + 1) % 24, r["text"]) for r in d.collect()],
        "doc_id long, text string")
    text_analysis.quality_classifier(rot, weight_store=root).collect()
    assert SnapshotTable(root).current_manifest()["snapshot_id"] != snap
    # hyperparameter change must also miss (key covers iters/lr/buckets)
    assert text_analysis._qcls_weights_from_store(d, 256, 3, 1.0, root) is None


def test_bpe_learn_merges_matches_twin_and_handcheck(spark):
    """The distributed greedy BPE learner must equal the pure-Python twin
    exactly (integer/string work — no tolerance), and on a corpus with an
    engineered dominant pair the first merge must be that pair."""
    docs = spark.createDataFrame(
        [(1, "abab abab cdcd"), (2, "abab dddd abab"), (3, "abab cdcd xyz")],
        "doc_id long, text string",
    )
    learned = text_analysis.bpe_learn_merges(docs)
    texts = [r["text"] for r in docs.collect()]
    twin_learned, twin_top = text_analysis._bpe_twin(texts)
    assert learned == twin_learned
    # 'abab' appears 5 times -> pair (a,b) count 10 dominates everything
    assert learned[0][1:3] == ("a", "b")
    # token counts under the learned merges must also match the twin
    rows = text_analysis.bpe_token_counts(
        docs, [(a, b) for _, a, b, _ in learned]).collect()
    got = [(r["token"], r["cnt"]) for r in rows]
    assert got == [(t, c) for t, c, _ in twin_top]


def test_bpe_apply_merges_is_left_to_right_greedy():
    from pdf_extractor_spark.kernels.textstats import bpe_apply_merges

    # overlapping occurrences collapse left-to-right: 'aaa' + (a,a) -> aa, a
    assert bpe_apply_merges("aaa", [("a", "a")]) == ["aa", "a", "</w>"]
    # merges apply in rank order, later merges see earlier output
    assert bpe_apply_merges("abc", [("a", "b"), ("ab", "c")]) == ["abc", "</w>"]
    assert bpe_apply_merges("", []) == ["</w>"]


# ---------------------------------------------------------------------------
# sequence packing (pack_sequences) + canonical dup-group selection
# ---------------------------------------------------------------------------


def test_pack_sequences_matches_naive_concat(spark, monkeypatch):
    rows = [
        (0, "alpha beta gamma delta"),
        (1, "one two three"),
        (2, " Mixed   CASE   and \t spaces "),
        (3, "x " * 9),  # 9 tokens + trailing space -> normalized 9 tokens
        (4, "tail"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    L = 8
    # 2-doc prefix-sum buckets: the offsets cross bucket boundaries
    monkeypatch.setattr(text_analysis, "PACK_BUCKET", 2)
    out = (
        text_analysis.pack_sequences(docs, seq_tokens=L)
        .orderBy("seq_id")
        .collect()
    )
    stream = []
    for _, t in rows:
        stream.extend(normalize(t).split(" "))
    expected = [stream[i : i + L] for i in range(0, len(stream), L)]
    assert [r["seq_id"] for r in out] == list(range(len(expected)))
    assert [r["seq_text"] for r in out] == [" ".join(e) for e in expected]
    assert [r["n_tokens"] for r in out] == [len(e) for e in expected]
    # every sequence but the last is exactly full
    assert all(r["n_tokens"] == L for r in out[:-1])
    # doc 0 (4 toks) + doc 1 (3 toks) + first tok of doc 2 fill seq 0
    assert out[0]["n_docs"] == 3


def test_pack_sequences_single_doc_spans_many_sequences(spark):
    docs = spark.createDataFrame(
        [(7, " ".join(f"t{i}" for i in range(100)))], "doc_id long, text string"
    )
    out = text_analysis.pack_sequences(docs, seq_tokens=16).orderBy("seq_id").collect()
    assert len(out) == 7  # ceil(100/16)
    assert all(r["n_docs"] == 1 for r in out)
    assert out[-1]["n_tokens"] == 100 - 6 * 16
    assert out[0]["seq_text"].split(" ")[0] == "t0"
    assert out[-1]["seq_text"].split(" ")[-1] == "t99"


def test_canonical_selection_longest_then_min_id(spark):
    from pdf_extractor_spark.operators.dedup import canonical_selection

    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, group_id long",
    )
    docs = spark.createDataFrame(
        [
            (1, "short"),
            (2, "the longest text of group one"),
            (3, "short"),
            (10, "same length"),
            (11, "same length"),
            (99, "not in any group"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["is_canonical"]
        for r in canonical_selection(groups, docs).collect()
    }
    # longest text wins group 1; equal lengths -> min doc_id wins group 10
    assert out == {1: 0, 2: 1, 3: 0, 10: 1, 11: 0}


def test_bm25_topk_matches_pure_python(spark, monkeypatch):
    import math

    rows = [
        (0, "hash join hash join hash table"),
        (1, "hash only once here padding words"),
        (2, "join join join join join join"),
        (3, "nothing relevant at all here"),
        (4, "hash join mixed with other text tokens"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(text_analysis, "BM25_QUERIES", [(0, ("hash", "join"))])
    out = text_analysis.bm25_topk(docs, k=3).collect()

    # pure-python twin
    toks = {d: normalize(t).split(" ") for d, t in rows}
    N = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / float(N)
    k1, b = 1.2, 0.75
    scores = {}
    for term in ("hash", "join"):
        df = sum(1 for v in toks.values() if term in v)
        idf = math.log((N - df + 0.5) / (df + 0.5) + 1.0)
        for d, v in toks.items():
            tf = v.count(term)
            if tf:
                c = round(idf * (tf * (k1 + 1.0))
                          / (tf + k1 * (1.0 - b + b * len(v) / avgdl)), 6)
                scores[d] = round(scores.get(d, 0.0) + c, 6)
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    got = [(r["doc_id"], r["score"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(d, s) for d, s in expect]
    assert all(r["query_id"] == 0 for r in out)


def test_bloom_decontaminate_superset_of_exact(spark):
    from pdf_extractor_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(docs.doc_id % 23 == 0)
    exact = {
        r["doc_id"]
        for r in dd.decontaminate(docs, bench, n=8).collect()
        if r["contaminated"]
    }
    bloom = {
        r["doc_id"]
        for r in dd.bloom_decontaminate(docs, bench, n=8).collect()
        if r["contaminated"]
    }
    assert exact, "benchmark docs must self-flag"
    # a Bloom filter can only over-approximate — never miss
    assert exact <= bloom


def test_bloom_pos_matches_python_md5(spark):
    import hashlib

    from pdf_extractor_spark.operators.dedup import _bloom_pos
    from pyspark.sql import functions as F

    m = 1 << 18
    grams = ["alpha beta", "the quick brown", "x"]
    df = spark.createDataFrame([(g,) for g in grams], "g string")
    got = {
        (r["g"], r["i"]): r["pos"]
        for i in range(4)
        for r in df.select("g", F.lit(i).alias("i"),
                           _bloom_pos(F.col("g"), i).alias("pos")).collect()
    }
    for g in grams:
        for i in range(4):
            exp = int(hashlib.md5(f"{g}#{i}".encode()).hexdigest()[:15], 16) % m
            assert got[(g, i)] == exp


def test_bpe_capped_vocab_path_equals_distributed(spark):
    """vocab_cap >= true vocabulary → the capped driver-side learner (one
    bounded collect, zero per-merge Spark jobs) must equal the distributed
    per-step path EXACTLY (same greedy rule, tie-breaks, shared
    segmentation); a binding cap must learn from exactly the top-N words."""
    docs = spark.createDataFrame(
        [(1, "abab abab cdcd"), (2, "abab dddd abab"), (3, "abab cdcd xyz")],
        "doc_id long, text string",
    )
    dist = text_analysis.bpe_learn_merges(docs)
    capped = text_analysis.bpe_learn_merges(docs, vocab_cap=1000)
    assert capped == dist
    # binding cap: top-1 word by (freq DESC, word ASC) is 'abab' (freq 5) —
    # learning from it alone yields pairs only from 'abab</w>'
    from pdf_extractor_spark.kernels.textstats import bpe_learn_from_vocab

    only_top = text_analysis.bpe_learn_merges(docs, vocab_cap=1)
    assert only_top == bpe_learn_from_vocab(
        [("abab", 5)], text_analysis.BPE_N_MERGES, text_analysis.BPE_MIN_COUNT)


def test_bpe_256_merges_is_cheap_on_capped_path(spark, monkeypatch):
    """Round-2 verdict item 5 'done' criterion: n_merges=256 must cost
    ~the same as n_merges=8 on the capped path (no per-merge Spark jobs —
    merge learning is vocabulary-local). The corpus vocabulary saturates
    long before 256 merges, and per-merge wall time stays driver-local."""
    import time

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon word{i % 7}") for i in range(50)],
        "doc_id long, text string",
    )
    t0 = time.time()
    small = text_analysis.bpe_learn_merges(docs, vocab_cap=4096)
    t_small = time.time() - t0
    monkeypatch.setattr(text_analysis, "BPE_N_MERGES", 256)
    t0 = time.time()
    big = text_analysis.bpe_learn_merges(docs, vocab_cap=4096)
    t_big = time.time() - t0
    assert big[: len(small)] == small  # greedy prefix property
    assert len(big) >= len(small)
    # 256 merges must NOT cost anywhere near 32x the 8-merge run; allow a
    # generous 4x for host noise (measured ~1x: both are one aggregate +
    # one collect + local work)
    assert t_big < 4 * max(t_small, 1.0), (t_small, t_big)


def test_bpe_encode_pack_matches_twin_and_handcheck(spark):
    """End-to-end tokenizer arm: the Spark encode+pack output must equal a
    pure-Python reassembly from the twin's word→ids map (exact string/
    integer work); empty/None docs contribute zero tokens; id assignment
    is code-point order over the segmented vocabulary."""
    texts = ["the quick fox", "", None, "the the fox fox fox jumps",
             "pack packing packed", "fox the"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    L = 5
    got = sorted(
        (r["seq_id"], r["n_docs"], r["n_tokens"], r["seq_text"])
        for r in text_analysis.bpe_encode_pack(
            docs, n_merges=4, seq_tokens=L).collect())
    # reassemble from the twin map (the exact artifact the oracle pins)
    bmap = dict(text_analysis._bpe_encode_map_twin(texts, n_merges=4))
    stream, spans = [], []
    for i, t in enumerate(texts):
        ids = []
        if t:
            for w in normalize(t).split(" "):
                if w:
                    ids.extend(bmap[w].split(" "))
        if ids:
            spans.append((len(stream), len(ids)))
            stream.extend(ids)
    exp = {}
    for s, n in spans:
        for q in range(s // L, (s + n - 1) // L + 1):
            d = exp.setdefault(q, [0, 0])
            d[0] += 1
            d[1] += min((q + 1) * L, s + n) - max(q * L, s)
    # seq q holds exactly stream[q*L:(q+1)*L]; nt == len of that slice
    expected = sorted(
        (q, nd, nt, " ".join(stream[q * L:(q + 1) * L]))
        for q, (nd, nt) in exp.items())
    assert got == expected
    # every id decodes back through the map's id space (no -1 UNKs here)
    all_ids = {int(x) for _, _, _, s in got for x in s.split(" ")}
    assert min(all_ids) >= 0


def test_bpe_encode_pack_unseen_word_unk(spark):
    """Words beyond the vocab cap segment on the fly; tokens outside the
    capped vocabulary map to -1 (the documented UNK id) instead of
    crashing or silently dropping."""
    # cap=2 keeps only the two most frequent words' tokens
    docs = spark.createDataFrame(
        [(0, "aa aa aa bb bb zz")], "doc_id long, text string")
    out = text_analysis.bpe_encode_pack(
        docs, n_merges=0, vocab_cap=2, seq_tokens=100).collect()
    ids = out[0]["seq_text"].split(" ")
    assert "-1" in ids  # 'zz' tokens are outside the capped vocab
    # in-vocab words still encode to real ids
    assert any(int(x) >= 0 for x in ids)


def test_pack_sequences_unchanged_after_refactor(spark):
    """pack_sequences (whitespace arm) still produces the documented
    shape after the packing core was factored out for the BPE arm."""
    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, ""), (2, "f g h")],
        "doc_id long, text string")
    rows = sorted(
        (r["seq_id"], r["n_docs"], r["n_tokens"], r["seq_text"])
        for r in text_analysis.pack_sequences(docs, seq_tokens=4).collect())
    assert rows == [(0, 1, 4, "a b c d"), (1, 2, 4, "e f g h")]


def test_bpe_encode_map_twin_covers_beyond_cap_words(spark):
    """The oracle map must include beyond-cap words (segmented on the fly,
    unknown tokens -> -1) so its SQL join never drops a word — parity with
    the engine kernel's fallback (review-wave regression)."""
    texts = ["aa aa aa bb bb zz"]
    bmap = dict(text_analysis._bpe_encode_map_twin(
        texts, n_merges=0, vocab_cap=2))
    assert set(bmap) == {"aa", "bb", "zz"}
    assert "-1" in bmap["zz"]
    # and the Spark engine agrees end-to-end at the same cap
    docs = spark.createDataFrame([(0, texts[0])], "doc_id long, text string")
    out = text_analysis.bpe_encode_pack(
        docs, n_merges=0, vocab_cap=2, seq_tokens=100).collect()
    stream = " ".join(bmap[w] for w in texts[0].split(" "))
    assert out[0]["seq_text"] == stream


def test_quality_classifier_gram_store_reuse_bit_exact(spark, docs, tmp_path):
    """The gram-store reuse path (qcls tf features derived from the DSIR
    store's mod-1024 stream via md5-mod composition, 256 | 1024) must be
    bit-identical to the inline tokenize+md5 path, and must fall back to
    inline on an incompatible or stale store instead of mis-bucketing."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "grams")
    text_analysis.dsir_weights(docs, gram_store=root).collect()
    inline = {(r["doc_id"], r["logit"], r["pred"])
              for r in text_analysis.quality_classifier(docs).collect()}
    reused = {(r["doc_id"], r["logit"], r["pred"])
              for r in text_analysis.quality_classifier(
                  docs, gram_store=root).collect()}
    assert inline == reused
    # shared-gq injection is likewise bit-neutral
    gq = text_analysis.gopher_quality(docs)
    shared = {(r["doc_id"], r["logit"], r["pred"])
              for r in text_analysis.quality_classifier(
                  docs, gq=gq, gram_store=root).collect()}
    assert shared == inline
    # incompatible bucket count (300 does not divide 1024) -> inline path
    assert text_analysis._gram_stream_from_store(docs, 300, root) is None
    # stale store (different corpus) -> miss, never a wrong-bucket stream
    other = docs.withColumn("text", F.concat(F.col("text"), F.lit(" x")))
    assert text_analysis._gram_stream_from_store(other, 256, root) is None
    # compatible divisor hits
    assert text_analysis._gram_stream_from_store(docs, 256, root) is not None


def test_badwords_hits_word_boundary_semantics(spark):
    """The C4 blocklist gate must match whole words (uni + bigram) only:
    substrings inside longer tokens must NOT trip it (the classic
    scunthorpe false positive), and hits count every occurrence."""
    d = spark.createDataFrame(
        [(1, "visit our casino tonight"),          # unigram hit
         (2, "win FREE   Money, now"),             # bigram across ws/case
         (3, "scasinos and freemoney are words"),  # substrings: clean
         (4, "casino casino free money"),          # 3 hits
         (5, ""),                                  # empty doc
         (6, "lottery alone and winner alone")],   # split bigram: clean
        "doc_id long, text string")
    got = {r["doc_id"]: r["bad_hits"]
           for r in text_analysis.badwords_hits(d).collect()}
    assert got == {1: 1, 2: 1, 3: 0, 4: 3, 5: 0, 6: 0}


def test_c4_pipeline_badwords_stage_subset(spark, docs):
    """The badwords stage re-gates the SAME survivor set, so its
    per-language counts are bounded by the base stage's; docs with an
    injected blocklist phrase drop from stage 2 only."""
    from pyspark.sql import functions as F

    polluted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit(" grab free money here")))
        .otherwise(F.col("text")).alias("text"),
        "lang")
    rows = text_analysis.c4_style_pipeline(
        polluted, min_tokens=1, min_quality=0.0,
        badword_terms=("free money",)).collect()
    base = {r["lang"]: r["survivors"] for r in rows if r["stage"] == "c4"}
    gated = {r["lang"]: r["survivors"]
             for r in rows if r["stage"] == "c4_badwords"}
    assert gated and all(gated[lg] <= base[lg] for lg in gated)
    assert sum(gated.values()) < sum(base.values())


def test_shuffled_pack_sequences_permutation_invariants(spark, docs):
    """The seeded shuffle must preserve the exact corpus token stream as
    a multiset (packing loses nothing), actually permute the order
    (some sequence differs from doc_id-order packing), and be
    reproducible from the salt (same salt = identical rows)."""
    base = text_analysis.pack_sequences(docs, seq_tokens=128).collect()
    sh1 = text_analysis.shuffled_pack_sequences(docs, seq_tokens=128).collect()
    sh2 = text_analysis.shuffled_pack_sequences(docs, seq_tokens=128).collect()

    def toks(rows):
        out = []
        for r in rows:
            out.extend(r["seq_text"].split(" ") if r["seq_text"] else [])
        return out

    def stream(rows):
        return [t for r in sorted(rows, key=lambda r: r["seq_id"])
                for t in (r["seq_text"].split(" ") if r["seq_text"] else [])]

    assert Counter(toks(sh1)) == Counter(toks(base))
    assert sum(r["n_tokens"] for r in sh1) == sum(r["n_tokens"] for r in base)
    # every sequence but the last is exactly full
    assert {r["n_tokens"] for r in sh1 if r["seq_id"] < len(sh1) - 1} == {128}
    assert stream(sh1) != stream(base)          # order actually changed
    assert sorted(map(tuple, sh1)) == sorted(map(tuple, sh2))  # reproducible


def test_budget_epochs_closed_form(spark):
    """epochs = budget * weight / size, decimal-snapped — a source whose
    share exceeds its size repeats (>1), a big source underfills (<1)."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [("small", 0.5, 1_000_000), ("big", 0.5, 100_000_000)],
        "source string, w double, chars long")
    got = {r["source"]: r["e"] for r in d.select(
        "source",
        text_analysis.budget_epochs(
            F.col("w"), F.col("chars"), 10_000_000).alias("e")).collect()}
    for src, w, chars in (("small", 0.5, 1_000_000),
                          ("big", 0.5, 100_000_000)):
        want = float(Decimal(repr(10_000_000.0 * w / chars)).quantize(
            Decimal("0.000001"), ROUND_HALF_UP))
        assert got[src] == want
    assert got["small"] > 1.0 > got["big"]
