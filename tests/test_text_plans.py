

import pytest


def test_pack_sequences_manifest_invariants(spark):
    """Packing manifest (two-level since r11): contiguous pack ids per
    (lang, bucket) sub-shard, token totals reconcile with the corpus,
    multiple buckets actually populated (the fan-out is real, not a
    degenerate single bucket), and every pack except the last in each
    sub-shard comes within one document of the 512-token budget
    (floor-of-cumsum chunking can undershoot by at most the largest
    single doc, because a pack's start may sit past its 512k boundary
    when the previous doc overshot)."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import token_count
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans.text import PACK_BUCKETS
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    max_doc = docs.select(F.max(token_count(F.col("text")))).first()[0]
    total_tokens = docs.select(F.sum(token_count(F.col("text")))).first()[0]
    rows = CATALOG["doc_pack_sequences"].builder(spark, SF_SMOKE).collect()
    assert sum(r.pack_tokens for r in rows) == total_tokens
    assert all(0 <= r.bucket < PACK_BUCKETS for r in rows)
    # the sub-shard key genuinely fans out (md5 spreads doc_ids)
    assert len({r.bucket for r in rows}) > 1
    by_shard = {}
    for r in rows:
        by_shard.setdefault((r.lang, r.bucket), []).append(r)
    assert by_shard
    for (lang, bucket), packs in by_shard.items():
        ids = sorted(p.pack_id for p in packs)
        assert ids == list(range(len(ids))), f"{lang}/{bucket}: non-contiguous {ids}"
        last = max(ids)
        for p in packs:
            if p.pack_id != last:
                assert p.pack_tokens >= 512 - max_doc, (
                    lang,
                    bucket,
                    p.pack_id,
                    p.pack_tokens,
                )
                assert p.pack_tokens + max_doc > 512


def test_pii_scrub_redacts_and_counts(spark):
    """PII scrub on constructed rows: typed placeholders land in the
    output, per-family counts attribute each span to exactly one
    family (ordered counting), clean/null/empty text passes through
    with zero counts, and counts always sum to the placeholders
    present in the scrubbed text."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import pii_scrub

    rows = [
        (1, "contact bob.smith+x@corp.example.co for details"),
        (2, "ssn 123-45-6789 leaked with ip 10.0.255.7 yesterday"),
        (3, "call +1 (415) 555-0137 or 020-7946-0958 now"),
        (4, "no pii here at all"),
        (5, ""),
        (6, None),
        (7, "two mails a@b.io c@d.org one ip 8.8.8.8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scrub(df).collect()}

    assert got[1].n_email == 1 and "<EMAIL>" in got[1].scrubbed_text
    assert "@" not in got[1].scrubbed_text
    # SSN claimed by the ssn family, not double-counted by phone
    assert got[2].n_ssn == 1 and got[2].n_phone == 0
    assert got[2].n_ipv4 == 1
    assert "<SSN>" in got[2].scrubbed_text and "<IPV4>" in got[2].scrubbed_text
    assert got[3].n_phone == 2 and got[3].scrubbed_text.count("<PHONE>") == 2
    assert got[4].n_redactions == 0 and got[4].scrubbed_text == rows[3][1]
    assert got[5].n_redactions == 0 and got[5].scrubbed_text == ""
    assert got[6].scrubbed_text is None
    assert got[7].n_email == 2 and got[7].n_ipv4 == 1 and got[7].n_redactions == 3
    # counts reconcile with placeholders for every row
    for r in got.values():
        if r.scrubbed_text is None:
            continue
        n_ph = sum(
            r.scrubbed_text.count(f"<{fam.upper()}>")
            for fam in ("email", "ssn", "ipv4", "phone")
        )
        assert n_ph == r.n_redactions, r


def test_substring_dedup_invariants(spark):
    """Substring-level dedup (Lee et al. 2022 ExactSubstr) on the real
    corpus: (1) every flagged window's 8-gram genuinely occurs >= 2
    times corpus-wide; (2) spans cover exactly the flagged windows'
    tokens and merged spans are separated by > 1 token; (3) the cut
    corpus reconciles token counts; (4) after the cut, every formerly
    repeated 8-gram survives at most once among fully-kept positions
    (the canonical occurrence, unless an overlapping span cut it)."""
    import re
    from collections import Counter

    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as D
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    K = 8
    docs = load_table(spark, SF_SMOKE, "documents")
    toks = {
        r.doc_id: re.split(r"\s+", r.text.strip(" "), flags=re.ASCII)
        for r in docs.select("doc_id", "text").collect()
        if r.text is not None
    }
    gram_count = Counter()
    for tk in toks.values():
        for i in range(len(tk) - K + 1):
            gram_count[" ".join(tk[i : i + K])] += 1

    flags = D.repeated_substring_flags(docs, k=K).collect()
    assert flags, "corpus has no repeated substrings — degenerate fixture"
    flagged_by_doc = {}
    for r in flags:
        gram = " ".join(toks[r.id][r.pos : r.pos + K])
        assert gram_count[gram] >= 2, (r.id, r.pos, gram)
        flagged_by_doc.setdefault(r.id, set()).add(r.pos)

    spans = D.repeated_substring_spans(docs, k=K).collect()
    spans_by_doc = {}
    for s in spans:
        spans_by_doc.setdefault(s.doc_id, []).append(s)
    assert set(spans_by_doc) == set(flagged_by_doc)
    cut_positions = {}
    for doc_id, ss in spans_by_doc.items():
        ss = sorted(ss, key=lambda s: s.span_start)
        covered = set()
        for s in ss:
            assert s.span_end >= s.span_start + K - 1
            covered |= set(range(s.span_start, s.span_end + 1))
        for a, b in zip(ss, ss[1:]):
            assert b.span_start > a.span_end + 1, "adjacent spans unmerged"
        want = set()
        for p in flagged_by_doc[doc_id]:
            want |= set(range(p, p + K))
        assert covered == want, doc_id
        assert sum(s.n_windows for s in ss) == len(flagged_by_doc[doc_id])
        cut_positions[doc_id] = covered

    cleaned = {r.doc_id: r for r in D.dedup_substrings(docs, k=K).collect()}
    assert set(cleaned) == set(toks)
    surviving = Counter()
    for doc_id, tk in toks.items():
        r = cleaned[doc_id]
        cut = cut_positions.get(doc_id, set())
        assert r.n_tokens == len(tk)
        assert r.n_removed == len(cut)
        kept = [t for i, t in enumerate(tk) if i not in cut]
        assert r.clean_text == " ".join(kept), doc_id
        for i in range(len(tk) - K + 1):
            if all(j not in cut for j in range(i, i + K)):
                surviving[" ".join(tk[i : i + K])] += 1
    for gram, n in gram_count.items():
        if n >= 2:
            assert surviving.get(gram, 0) <= 1, gram


def test_line_filter_c4_rules(spark):
    """C4/Gopher line rules on constructed multi-line docs: terminal
    punctuation required, short lines dropped, banned boilerplate
    vocabulary dropped, over-long lines capped, kept lines rejoined in
    order, all-dropped docs come back as empty rows, and NULL text
    emits no row."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import line_filter

    rows = [
        (1, "Good first sentence here.\nenable javascript to view\n"
            "Short.\nAnother fine long sentence stands here!\nno punct line at all"),
        (2, "We use cookie banners everywhere.\nBy reading you accept our privacy policy."),
        (3, "x " * 300 + "ends with period."),   # one über-long line
        (4, None),
        (5, "Only one proper sentence survives here.\nok?"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in line_filter(
            df, min_tokens=3, require_terminal_punct=True, max_chars=200
        ).collect()
    }
    assert set(got) == {1, 2, 3, 5}, "NULL text must emit no row"
    r1 = got[1]
    assert r1.n_lines == 5
    assert r1.n_lines_kept == 2
    assert r1.clean_text == (
        "Good first sentence here.\nAnother fine long sentence stands here!"
    )
    # both lines of doc 2 carry banned vocabulary ('cookie', 'privacy
    # policy') — doc survives as an empty row
    assert got[2].n_lines_kept == 0 and got[2].clean_text == ""
    # doc 3's only line ends in '.' and has >3 tokens but busts max_chars
    assert got[3].n_lines_kept == 0
    # doc 5: line 1 kept; 'ok?' has terminal punct but < 3 tokens
    assert got[5].n_lines_kept == 1
    assert got[5].clean_text == "Only one proper sentence survives here."


def test_perplexity_buckets_invariants(spark):
    """CCNet bucketing: every scored doc lands in exactly one bucket,
    buckets are totally ordered by score, and tercile sizes stay near
    N/3 (exact rank-selected thresholds since r9 — deviation from N/3
    now comes only from ties at the threshold values; the bucket
    ASSIGNMENT itself is oracle-hash-checked by the driver)."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    rows = CATALOG["doc_perplexity_buckets"].builder(spark, SF_SMOKE).collect()
    assert rows
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.ppl_bucket, []).append(r.avg_logprob)
    assert set(by_bucket) == {"head", "middle", "tail"}
    # total ordering across buckets at the boundaries
    assert min(by_bucket["head"]) >= max(by_bucket["middle"])
    assert min(by_bucket["middle"]) >= max(by_bucket["tail"])
    n = len(rows)
    for b, vals in by_bucket.items():
        assert abs(len(vals) - n / 3) <= 0.15 * n, (b, len(vals), n)


def test_bpe_train_and_encode_invariants(spark):
    """BPE tier: (1) the trained merge table matches its pinned
    artifact (bounded-sample training is deterministic); (2) encoding
    round-trips — concatenating a word's subwords reproduces the word
    + end marker; (3) more merges never increase a doc's subword
    count, and zero merges degenerate to chars+1 per word; (4) the
    distributed Arrow stats match a pure-Python re-encode of every
    document."""
    import json
    import os
    import re

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import bpe as B
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    merges_df = B.bpe_train(d, num_merges=64)
    got = [
        (r["rank"], r["left"], r["right"])
        for r in sorted(merges_df.collect(), key=lambda r: r["rank"])
    ]
    with open(
        os.path.join(os.path.dirname(__file__), "data", "bpe_merges_sf0001.json")
    ) as fh:
        want = [(w["rank"], w["left"], w["right"]) for w in json.load(fh)]
    assert got == want

    ranks = {(a, b): r for r, a, b in got}
    texts = {
        r.doc_id: r.text for r in d.select("doc_id", "text").collect() if r.text is not None
    }
    words = {w for t in texts.values() for w in re.split(r"\s+", t.strip(" ")) if w}
    for w in sorted(words):
        syms = B.bpe_encode_word(w, ranks)
        assert "".join(syms) == w + B.EOW, w
        assert len(syms) <= len(w) + 1
        half = {k: v for k, v in ranks.items() if v < 32}
        assert len(B.bpe_encode_word(w, half)) >= len(syms), w
        assert len(B.bpe_encode_word(w, {})) == len(w) + 1

    stats = {r.doc_id: r for r in B.bpe_encode_stats(d, merges_df).collect()}
    assert set(stats) == set(texts)
    for doc_id, t in texts.items():
        # n_ws_tokens is UNFILTERED split — token_count() semantics, so
        # empty tokens from empty/oddly-whitespaced docs count; only the
        # BPE re-encode skips them (an empty word encodes to nothing).
        ws_all = re.split(r"\s+", t.strip(" "), flags=re.ASCII)
        ws = [w for w in ws_all if w]
        want_bpe = sum(len(B.bpe_encode_word(w, ranks)) for w in ws)
        r = stats[doc_id]
        assert r.n_ws_tokens == len(ws_all)
        assert r.n_bpe_tokens == want_bpe, doc_id
        assert r.n_chars == len(t)

    # Odd-whitespace docs (absent from the sf0.001 fixture — verified
    # 0/500) pin the unfiltered semantics explicitly: empty text is one
    # empty token, leading tabs/newlines survive strip(' ') and yield a
    # leading empty token, double spaces do NOT (\s+ eats the run).
    odd = spark.createDataFrame(
        [(100, ""), (101, "\tlead tab"), (102, "a  b"), (103, " x "), (104, None)],
        "doc_id int, text string",
    )
    odd_stats = {r.doc_id: r for r in B.bpe_encode_stats(odd, merges_df).collect()}
    assert set(odd_stats) == {100, 101, 102, 103}  # NULL emits no row
    assert odd_stats[100].n_ws_tokens == 1  # [""]
    assert odd_stats[100].n_bpe_tokens == 0
    assert odd_stats[101].n_ws_tokens == 3  # ["", "lead", "tab"]
    assert odd_stats[102].n_ws_tokens == 2  # ["a", "b"]
    assert odd_stats[103].n_ws_tokens == 1  # ["x"]


def test_paragraph_dedup_planted_duplicates(spark):
    """Paragraph dedup on constructed docs: a paragraph planted in
    three documents survives exactly once (in the globally-first
    (doc_id, para_no) slot), unique paragraphs all survive, and the
    corpus-wide kept count equals the number of DISTINCT paragraphs —
    the defining invariant of canonical election."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import paragraph_dedup

    pt = 4  # paragraphs are 4-token windows in this test
    boiler = "alpha beta gamma delta"
    docs = [
        (0, f"{boiler} one two three four"),
        (1, f"five six seven eight {boiler}"),
        (2, f"{boiler} {boiler}"),  # twice within ONE doc too
        (3, "nine ten eleven twelve"),
        (4, None),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = paragraph_dedup(df, para_tokens=pt)
    rows = {r.doc_id: r for r in out.collect()}
    assert 4 not in rows  # NULL text emits nothing
    # doc 0 holds the canonical occurrence; later copies are cut
    assert rows[0].clean_text == f"{boiler}\none two three four"
    assert rows[1].clean_text == "five six seven eight"
    assert rows[2].clean_text == ""
    assert rows[3].clean_text == "nine ten eleven twelve"
    assert (rows[2].n_paras, rows[2].n_kept) == (2, 0)
    # corpus-wide: kept == distinct paragraphs
    n_distinct = 4  # boiler, "one two three four", "five six seven eight", "nine ten eleven twelve"
    assert sum(r.n_kept for r in rows.values()) == n_distinct
    assert all(r.n_kept <= r.n_paras for r in rows.values())


def test_chunk_windows_coverage_and_overlap(spark):
    """Chunk windows on constructed docs: full token coverage, exact
    stride/overlap arithmetic, short-doc single chunk, and null/empty
    text emitting nothing."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import chunk_windows

    long_text = " ".join(f"t{i}" for i in range(10))
    docs = [(0, long_text), (1, "a b"), (2, None), (3, "   ")]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = chunk_windows(df, chunk_tokens=4, stride=3)
    rows = sorted(out.collect(), key=lambda r: (r.id, r.chunk_id))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.id, []).append(r)
    assert set(by_doc) == {0, 1}  # null + whitespace-only emit nothing
    c0 = by_doc[0]
    # starts at stride boundaries 0,3,6,9; tail chunk is short
    assert [r.chunk_start for r in c0] == [0, 3, 6, 9]
    assert [r.n_chunk_tokens for r in c0] == [4, 4, 4, 1]
    assert c0[0].chunk_text == "t0 t1 t2 t3"
    assert c0[1].chunk_text == "t3 t4 t5 t6"  # 1-token overlap at stride 3
    assert c0[-1].chunk_text == "t9"
    # coverage: every token occurs in at least one chunk
    covered = set()
    for r in c0:
        covered.update(r.chunk_text.split(" "))
    assert covered == {f"t{i}" for i in range(10)}
    assert by_doc[1][0].chunk_text == "a b"
    assert [r.chunk_id for r in c0] == [0, 1, 2, 3]


def test_dsir_weights_favor_target_distribution(spark):
    """DSIR on a constructed corpus: docs made of target-corpus tokens
    score strictly higher than docs made of off-target tokens, and the
    sf0.001 catalog selection is dominated by the target language."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import dsir_logweights
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    docs = []
    # target sub-corpus: heavy on 'good'-family tokens
    for i in range(20):
        docs.append((i, "tgt", "good fine nice clean solid " * 4))
    # raw-only noise: heavy on 'bad'-family tokens
    for i in range(20, 40):
        docs.append((i, "raw", "junk spam noise broken trash " * 4))
    df = spark.createDataFrame(docs, "doc_id int, grp string, text string")
    w = dsir_logweights(df, target=F.col("grp") == "tgt", carry_cols=("grp",))
    rows = {r.id: r for r in w.collect()}
    tgt_ws = [rows[i].w for i in range(20)]
    raw_ws = [rows[i].w for i in range(20, 40)]
    assert min(tgt_ws) > max(raw_ws)
    # catalog entry: top-100 toward 'en' over-represents 'en' vs its
    # corpus base rate (the synthetic corpus shares one vocabulary
    # across langs, so the signal is real but mild — the constructed
    # corpus above carries the strong separation assertion)
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    base = docs.filter(F.col("lang") == "en").count() / docs.count()
    sel = CATALOG["doc_dsir_sample"].builder(spark, SF_SMOKE).collect()
    n_en = sum(1 for r in sel if r.lang == "en")
    assert len(sel) == 100
    assert n_en / 100 > base


def test_source_overlap_constructed_matrix(spark):
    """Source overlap on a constructed corpus with known shingle sets:
    exact Jaccard values, pair orientation src_a < src_b, and absent
    zero-overlap pairs."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import source_overlap

    docs = [
        (0, "A", "w1 w2 w3 w4"),          # grams: {w1 w2 w3, w2 w3 w4}
        (1, "B", "w1 w2 w3"),             # grams: {w1 w2 w3}
        (2, "C", "x1 x2 x3"),             # disjoint from A and B
        (3, "A", "w1 w2 w3"),             # duplicate gram within A — distinct'd
    ]
    df = spark.createDataFrame(docs, "doc_id int, source string, text string")
    out = {(r.src_a, r.src_b): r for r in source_overlap(df).collect()}
    assert set(out) == {("A", "B")}  # C overlaps nothing; no self/reversed pairs
    r = out[("A", "B")]
    assert (r.n_common, r.n_a, r.n_b) == (1, 2, 1)
    assert r.jaccard == 0.5


def test_bm25_ranking_semantics(spark):
    """BM25 on constructed docs: more query-term mass ranks higher,
    longer docs are length-penalized at equal tf, docs without any
    query term are absent, and rarer terms carry higher idf weight."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import bm25_scores

    docs = [
        (0, "apple apple apple pad pad"),            # tf=3, short
        (1, "apple pad pad pad pad"),                # tf=1, same length class
        (2, "apple " + "pad " * 40),                 # tf=1, long — penalized vs 1
        (3, "pad pad pad pad"),                      # no query terms
        (4, "banana pad pad pad pad"),               # rare term (df=1)
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {r.id: r for r in bm25_scores(df, ("apple", "banana")).collect()}
    assert 3 not in out
    assert out[0].bm25 > out[1].bm25 > out[2].bm25
    assert out[4].n_terms_matched == 1 and out[0].n_terms_matched == 1
    # banana appears in 1 of 5 docs vs apple in 3 of 5 → higher idf, and
    # at equal tf/dl the rare-term doc outranks the common-term doc
    assert out[4].bm25 > out[1].bm25


def test_ohlc_daily_candles(spark):
    """OHLC resample on the real corpus: high >= open/close >= low,
    volumes reconcile with raw counts, and open/close match the
    first/last-by-ts values for a spot-checked group."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = CATALOG["events_ohlc_daily"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.high >= max(r.open, r.close)
        assert r.low <= min(r.open, r.close)
        assert r.volume >= 1
    e = load_table(spark, SF_SMOKE, "events")
    assert sum(r.volume for r in rows) == e.count()
    spot = max(rows, key=lambda r: r.volume)
    grp = (
        e.filter(
            (F.date_trunc("day", F.col("ts")) == spot.day)
            & (F.col("event_type") == spot.event_type)
        )
        .orderBy("ts")
        .select("value")
        .collect()
    )
    assert grp[0].value == spot.open and grp[-1].value == spot.close


def test_bloom_decontamination_no_false_negatives(spark):
    """Bloom-tier flags must be a SUPERSET of the exact tier's on the
    real corpus (no false negatives — the Bloom guarantee), per-doc
    bloom hit counts >= exact contaminated counts, and the extra
    (false-positive) flag volume stays under the standard Bloom rate
    by a wide margin at this fill factor."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as D
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    eval_df = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    exact = {r.doc_id: r for r in D.decontaminate_ngram(train, eval_df, n=4).collect()}
    bloom = {r.doc_id: r for r in D.decontaminate_bloom(train, eval_df, n=4).collect()}
    assert set(exact) == set(bloom)
    n_extra = 0
    for doc_id, ex in exact.items():
        bl = bloom[doc_id]
        assert bl.n_grams == ex.n_grams
        assert bl.n_bloom_hits >= ex.n_contaminated_grams, doc_id
        if ex.contaminated:
            assert bl.bloom_flagged, doc_id
        n_extra += bl.n_bloom_hits - ex.n_contaminated_grams
    total_grams = sum(r.n_grams for r in exact.values())
    # fill factor here is tiny (few thousand eval grams in 2^18 bits)
    # → false-positive rate well under 1%
    assert n_extra / total_grams < 0.01, n_extra / total_grams


def test_rag_prep_pipeline_reconciles_stages(spark):
    """Composed RAG prep: only gate-passing docs appear, chunks tile
    the paragraph-deduped text exactly (last chunk ends at the cleaned
    token count; starts advance by the stride), and no chunk contains
    a paragraph that lost its canonical election."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import dedup as D
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import quality_score
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    kept_ids = {
        r.doc_id
        for r in d.filter(F.col("text").isNotNull())
        .filter(quality_score(F.col("text")) >= 0.5)
        .select("doc_id")
        .collect()
    }
    kept = d.filter(F.col("doc_id").isin(list(kept_ids)))
    cleaned = {
        r.doc_id: r.clean_text
        for r in D.paragraph_dedup(kept, para_tokens=12).collect()
    }
    chunks = CATALOG["doc_rag_prep_pipeline"].builder(spark, SF_SMOKE).collect()
    assert chunks
    by_doc = {}
    for c in chunks:
        by_doc.setdefault(c.doc_id, []).append(c)
    assert set(by_doc) <= kept_ids
    # docs whose cleaned text is empty emit nothing; all others tile fully
    for doc_id, cs in by_doc.items():
        n_clean = len(cleaned[doc_id].split())
        cs = sorted(cs, key=lambda c: c.chunk_id)
        assert [c.chunk_start for c in cs] == [i * 24 for i in range(len(cs))]
        assert cs[-1].chunk_start + cs[-1].n_chunk_tokens == n_clean
    empty = {i for i, t in cleaned.items() if not t.strip()}
    assert set(by_doc) == kept_ids - empty


def test_ewma_matches_pandas_within_truncation(spark):
    """Span-10 EWMA: first row equals its value, and every row is
    within the documented (9/11)^20 truncation band of pandas'
    untruncated ewm(span=10, adjust=True) on the same series."""
    import pandas as pd
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = CATALOG["events_ewma"].builder(spark, SF_SMOKE).collect()
    e = load_table(spark, SF_SMOKE, "events")
    ordered = (
        e.select("event_id", "event_type", "value")
        .join(
            e.select("event_id", F.col("ts").alias("ts")), "event_id"
        )
        .orderBy("ts")
        .collect()
    )
    got = {r.event_id: r.ewma for r in rows}
    series = {}
    for r in ordered:
        series.setdefault(r.event_type, []).append(r)
    n_checked = 0
    tail = (9.0 / 11.0) ** 20  # dropped weight mass, ≈ 1.8% of total
    for typ, evs in series.items():
        ref = pd.Series([r.value for r in evs]).ewm(span=10, adjust=True).mean()
        assert got[evs[0].event_id] == round(evs[0].value, 6)
        max_v = max(abs(r.value) for r in evs)
        # truncating the tail can shift the weighted mean by at most
        # the tail's share of the mass times the value range
        bound = tail / (1.0 - tail) * max_v + 1e-6
        for i, r in enumerate(evs):
            assert abs(got[r.event_id] - ref.iloc[i]) <= bound, (typ, i)
            if i >= 40:
                n_checked += 1
    assert n_checked > 100


def test_ares_weighted_sample_favors_heavy_weights(spark):
    """A-Res keys on the catalog entry: deterministic across runs, 100
    rows, and the selected docs' mean quality weight exceeds the
    corpus mean (inclusion ∝ weight)."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import quality_score
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    a = CATALOG["doc_weighted_sample_ares"].builder(spark, SF_SMOKE).collect()
    b = CATALOG["doc_weighted_sample_ares"].builder(spark, SF_SMOKE).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    assert len(a) == 100
    d = load_table(spark, SF_SMOKE, "documents").filter(F.col("text").isNotNull())
    corpus_mean = d.select(
        F.avg(quality_score(F.col("text")) + 0.01)
    ).first()[0]
    sel_mean = sum(r.weight for r in a) / len(a)
    assert sel_mean > corpus_mean


def test_normalize_text_constructed_dirty_docs(spark):
    """Normalization on constructed dirty docs: control chars stripped,
    space/tab runs squashed, blank-line runs capped, outer whitespace
    trimmed, clean text untouched, NULL text dropped."""
    from pyspark.sql import functions as F

    rows = [
        (0, "a\x00b\x07c"),                      # control chars vanish
        (1, "a  \t b"),                          # runs → one space
        (2, "l1\n\n\n\nl2"),                     # blank-line run → one blank
        (3, "  padded  "),                       # trimmed
        (4, "already clean"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    # same normalization expression as the catalog entry
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), r"[\x00-\x08\x0B-\x1F\x7F]", ""),
                r"[ \t]+", " "),
            r"\n{3,}", "\n\n")
    )
    got = {
        r.doc_id: r.norm_text
        for r in df.filter(F.col("text").isNotNull())
        .select("doc_id", norm.alias("norm_text"))
        .collect()
    }
    assert got[0] == "abc"
    assert got[1] == "a b"
    assert got[2] == "l1\n\nl2"
    assert got[3] == "padded"
    assert got[4] == "already clean"
    assert 5 not in got


def test_cohort_and_funnel_reconcile(spark):
    """Cohort matrix and funnel on the real corpus: offset-0 cells
    cover every user exactly once (everyone is active in their first
    week), total cohort sizes reconcile with the distinct-user count,
    offsets are non-negative, and funnel conversion counts never
    exceed signups."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "events")
    n_users = e.select("user_id").distinct().count()
    cells = CATALOG["events_cohort_retention"].builder(spark, SF_SMOKE).collect()
    assert all(c.week_offset >= 0 for c in cells)
    week0 = sum(c.n_users for c in cells if c.week_offset == 0)
    assert week0 == n_users
    funnel = CATALOG["events_funnel_conversion"].builder(spark, SF_SMOKE).collect()
    assert funnel
    n_signup_users = (
        e.filter(F.col("event_type") == "signup")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_signups for r in funnel) == n_signup_users
    for r in funnel:
        assert 0 <= r.n_converted <= r.n_signups
        assert abs(r.conversion_rate - round(r.n_converted / r.n_signups, 6)) < 1e-9


def test_hybrid_rrf_fusion_semantics(spark):
    """RRF fusion: every returned doc appears in at least one source
    list, docs present in BOTH lists dominate same-rank single-list
    docs, scores equal the closed-form 1/(60+r) sums, and filtered
    vector search returns only label-3 neighbors."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = CATALOG["doc_hybrid_rrf_search"].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.lex_rank is not None or r.vec_rank is not None
        want = (1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (60 + r.vec_rank) if r.vec_rank else 0.0
        )
        assert abs(r.rrf_score - round(want, 9)) < 1e-12
    both = [r for r in rows if r.lex_rank and r.vec_rank]
    if both:
        best_single = max(
            (r.rrf_score for r in rows if (r.lex_rank is None) != (r.vec_rank is None)),
            default=0.0,
        )
        # a doc in both lists at any ranks beats a single-list doc at
        # rank >= its own max rank; weaker but robust: the top fused doc
        # in both lists outranks every single-list doc at rank 1+
        assert max(r.rrf_score for r in both) >= best_single - 1e-12

    filt = CATALOG["emb_filtered_topk"].builder(spark, SF_SMOKE).collect()
    e = load_table(spark, SF_SMOKE, "embeddings")
    label3 = {r.vec_id for r in e.filter(F.col("label") == 3).collect()}
    assert filt and all(r.neighbor_id in label3 for r in filt)


def test_minhash_estimator_error_bounded(spark):
    """MinHash estimator vs exact on real candidate pairs: estimates
    are multiples of 1/32 in [0,1], every LSH candidate has nonzero
    exact overlap, and the absolute error stays inside a 4-sigma
    MinHash band (sqrt(J(1-J)/32) <= 0.0885)."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    rows = CATALOG["doc_minhash_jaccard_estimate"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert abs(r.est_jaccard * 32 - round(r.est_jaccard * 32)) < 1e-6
        assert r.exact_jaccard > 0.0  # an LSH candidate shares >= 1 shingle
        assert r.abs_err <= 4 * 0.0885, (r.id_a, r.id_b, r.abs_err)


def test_gopher_rules_and_entropy_semantics(spark):
    """Gopher rules: per-rule booleans reconcile with hand-computed
    values on the real corpus sample; entropy: a constant doc scores
    0, a uniform all-distinct doc scores ln(n), repetitive < diverse."""
    import math

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    rules = CATALOG["doc_gopher_rules"].builder(spark, SF_SMOKE).collect()
    assert rules
    for r in rules[:50]:
        assert r.ok_length == (50 <= r.n_tok <= 100000)
        assert r.ok_stopwords == (r.n_stop >= 2)
        assert r.gopher_pass == (
            r.ok_length and r.ok_word_len and r.ok_symbols and r.ok_stopwords
        )
    assert any(r.gopher_pass for r in rules)

    ent = {r.doc_id: r for r in CATALOG["doc_token_entropy"].builder(spark, SF_SMOKE).collect()}
    assert ent
    for r in list(ent.values())[:50]:
        assert 0.0 <= r.entropy <= round(math.log(r.n_tokens), 6) + 1e-6
        assert r.n_distinct <= r.n_tokens
    # constructed: constant vs all-distinct, same formula inline
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(9001, "x " * 16), (9002, " ".join(f"w{i}" for i in range(16)))],
        "doc_id int, text string",
    )
    tok = df.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    term = F.col("c") * F.round(F.log("c") * 1_000_000).cast("long")
    agg = tf.groupBy("doc_id").agg(F.sum("c").alias("n"), F.sum(term).alias("s"))
    out = {
        r.doc_id: r.e
        for r in agg.select(
            "doc_id",
            F.round(F.log("n") - F.col("s") / (F.col("n") * 1e6), 6).alias("e"),
        ).collect()
    }
    assert abs(out[9001] - 0.0) < 1e-6          # constant text
    assert abs(out[9002] - round(math.log(16), 6)) < 1e-6  # uniform distinct


def test_domain_mix_report_reconciles(spark):
    """Mix report: shares sum to 1, cum_share is monotone in rank and
    ends at 1, and token totals reconcile with the corpus."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import token_count
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = sorted(
        CATALOG["doc_domain_mix_report"].builder(spark, SF_SMOKE).collect(),
        key=lambda r: r.share_rank,
    )
    assert rows
    d = load_table(spark, SF_SMOKE, "documents").filter(F.col("text").isNotNull())
    total = d.select(F.sum(token_count(F.col("text")))).first()[0]
    assert sum(r.n_tokens for r in rows) == total
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-3
    assert [r.share_rank for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert b.cum_share >= a.cum_share - 1e-9
        assert a.n_tokens >= b.n_tokens
    assert abs(rows[-1].cum_share - 1.0) < 1e-6


def test_column_profile_single_pass_and_values(spark):
    """Column profiler: one row per profiled column, null+distinct
    reconcile with direct queries, and the plan contains exactly ONE
    scan of orders (the wide-aggregate contract — not |columns|
    passes)."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    q = CATALOG["orders_column_profile"].builder(spark, SF_SMOKE)
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    import re

    # formatted explain lists each node once in the tree and once in
    # the detail section — count the numbered detail entries
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    rows = {r.col_name: r for r in q.collect()}
    o = load_table(spark, SF_SMOKE, "orders")
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority",
    }
    assert rows["o_orderstatus"].n_distinct == o.select("o_orderstatus").distinct().count()
    assert rows["o_orderkey"].n_null == o.filter(F.col("o_orderkey").isNull()).count()
    assert rows["o_custkey"].n_distinct == o.select("o_custkey").distinct().count()


def test_session_overlap_banded_join_semantics(spark):
    """Interval-overlap join: no CartesianProduct in the plan, pair
    orientation user_a < user_b, every overlap duration positive and
    bounded by both sessions' lengths (spot-check against a directly
    computed session table)."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    q = CATALOG["events_session_overlap"].builder(spark, SF_SMOKE)
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    rows = q.collect()
    assert rows
    for r in rows:
        assert r.user_a < r.user_b
        assert r.n_overlapping_pairs >= 1
        assert r.total_overlap_us >= 0


def test_activity_pipeline_multi_cohort_fixture(spark, tmp_path):
    """events_activity_pipeline on a constructed two-cohort corpus with
    hand-computed expectations. The driver hash-check at sf0.01 covers
    one cohort week; this fixture exercises the paths a single-row
    output cannot: a second cohort, a ZERO-SIGNUP cohort (try_divide ->
    NULL conversion_rate while n_converted coalesces to 0), week-1
    retention crossing cohort boundaries, and the overlap credit
    landing on both endpoints of a pair.

    Fixture (all UTC; weeks are Monday-anchored):
      u1 (cohort 2024-01-01): signup 01-02 10:00, view 10:10 (one
         session [10:00,10:10]), purchase 01-03 09:00 (own session;
         converts the 7-day funnel), view 01-09 12:00 (session in
         cohort_week+1 -> retained).
      u2 (cohort 2024-01-01): signup 01-02 10:05, click 10:20 (one
         session [10:05,10:20] overlapping u1's by 5 min); never
         purchases, never returns.
      u3 (cohort 2024-01-08): view 01-10 08:00, click 08:05 — NO
         signup event anywhere in the cohort.
    """
    import datetime as dt

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG

    T = dt.datetime
    rows = [
        (1, T(2024, 1, 2, 10, 0), 1, "signup", 1.0, "{}"),
        (2, T(2024, 1, 2, 10, 10), 1, "view", 1.0, "{}"),
        (3, T(2024, 1, 3, 9, 0), 1, "purchase", 9.0, "{}"),
        (4, T(2024, 1, 9, 12, 0), 1, "view", 1.0, "{}"),
        (5, T(2024, 1, 2, 10, 5), 2, "signup", 1.0, "{}"),
        (6, T(2024, 1, 2, 10, 20), 2, "click", 1.0, "{}"),
        (7, T(2024, 1, 10, 8, 0), 3, "view", 1.0, "{}"),
        (8, T(2024, 1, 10, 8, 5), 3, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r.cohort_week: r
        for r in CATALOG["events_activity_pipeline"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {T(2024, 1, 1), T(2024, 1, 8)}

    a = out[T(2024, 1, 1)]
    assert a.n_users == 2
    assert a.n_sessions == 4  # u1: 3 sessions, u2: 1
    assert a.avg_events_per_session == 1.5  # 6 events / 4 sessions
    # u1 600s + u2 900s, in microseconds
    assert a.total_session_us == 1_500_000_000
    assert a.n_retained_w1 == 1  # u1's 01-09 session
    assert a.n_signups == 2
    assert a.n_converted == 1  # u1's purchase inside 7 days
    assert a.conversion_rate == 0.5
    assert a.n_overlap_users == 2  # the u1/u2 pair credits both ends
    assert a.total_overlap_us == 600_000_000  # 300s overlap x 2 users

    b = out[T(2024, 1, 8)]
    assert b.n_users == 1
    assert b.n_sessions == 1
    assert b.avg_events_per_session == 2.0
    assert b.total_session_us == 300_000_000
    assert b.n_retained_w1 == 0
    assert b.n_signups == 0
    assert b.n_converted == 0  # coalesce(sum(converted), 0)
    assert b.conversion_rate is None  # try_divide by zero signups
    assert b.n_overlap_users == 0
    assert b.total_overlap_us == 0


def test_lr_quality_filter_learns_real_separation(spark):
    """The LR classifier must actually LEARN from the gradient epochs,
    not just execute them: (1) trained weights are non-trivial (moved
    off init); (2) scores separate the target class (mean en score >
    mean non-en score); (3) training is deterministic (bit-identical
    weights across runs — the engine-reproducibility contract the
    oracle relies on); (4) one epoch's weights differ from three (the
    iterations do work)."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents").filter(F.col("text").isNotNull())
    feats = X.lr_quality_features(F.col("text"))
    label = F.coalesce((F.col("lang") == "en").cast("int"), F.lit(0))
    w3 = X.lr_train_weights(d, label, feats, iters=3)
    assert any(abs(x) > 1e-6 for x in w3)
    assert w3 == X.lr_train_weights(d, label, feats, iters=3)
    assert w3 != X.lr_train_weights(d, label, feats, iters=1)

    rows = CATALOG["doc_lr_quality_filter"].builder(spark, SF_SMOKE).collect()
    en = [r.lr_score for r in rows if r.is_en == 1]
    other = [r.lr_score for r in rows if r.is_en == 0]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)


@pytest.mark.parametrize(
    "name", ["doc_temperature_mixture", "doc_temperature_mixture_alpha3"]
)
def test_temperature_mixture_flattens_shares(spark, name):
    """mT5 temperature-sampling invariants, parameterized over α (the
    α = 1/2 sqrt instance and the α = 0.3 exp/ln instance): the
    smallest source keeps exactly 100%, rates are anti-monotone in
    token mass, every per-language sample count is within its binomial
    envelope of rate·n_docs, and the EFFECTIVE post-sampling token
    shares are strictly flatter (smaller max/min spread) than the
    natural shares — the whole point of the recipe."""
    from pyspark.sql import functions as F  # noqa: F401

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    rows = CATALOG[name].builder(spark, SF_SMOKE).collect()
    assert len(rows) >= 3
    by_tokens = sorted(rows, key=lambda r: r.n_tokens)
    assert by_tokens[0].rate_pct == 100  # smallest source fully kept
    for a, b in zip(by_tokens, by_tokens[1:]):
        assert a.rate_pct >= b.rate_pct, (a, b)
    for r in rows:
        assert 0 <= r.n_sampled <= r.n_docs
        # md5 buckets are uniform: expect ~rate·n_docs, allow 5 sigma
        exp = r.n_docs * r.rate_pct / 100.0
        sigma = (r.n_docs * 0.25) ** 0.5  # p(1-p) <= 1/4
        assert abs(r.n_sampled - exp) <= 5 * sigma + 1, r
    natural = [r.n_tokens for r in rows]
    effective = [r.n_tokens * r.rate_pct for r in rows]
    nat_spread = max(natural) / min(natural)
    eff_spread = max(effective) / min(effective)
    assert nat_spread > 1.0  # corpus is actually imbalanced
    assert eff_spread < nat_spread  # temperature flattened it


def test_temperature_alpha3_flattens_harder_than_sqrt(spark):
    """Lower α flattens MORE: for every non-smallest language,
    ratio^0.7 ≤ ratio^0.5 (ratio < 1), so the α = 0.3 keep-rate is
    ≤ the α = 1/2 rate, and the α = 0.3 effective-share spread is ≤
    the α = 1/2 spread. Also pins the α domain guard: alpha outside
    (0, 1] must raise."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators import text as X
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    half = {
        r.lang: r
        for r in CATALOG["doc_temperature_mixture"].builder(spark, SF_SMOKE).collect()
    }
    a3 = {
        r.lang: r
        for r in CATALOG["doc_temperature_mixture_alpha3"]
        .builder(spark, SF_SMOKE)
        .collect()
    }
    assert set(half) == set(a3)
    for lang in half:
        assert a3[lang].rate_pct <= half[lang].rate_pct, lang

    def spread(rows):
        eff = [r.n_tokens * r.rate_pct for r in rows.values()]
        return max(eff) / min(eff)

    assert spread(a3) <= spread(half)

    d = (
        CATALOG["doc_temperature_mixture"]
        .builder(spark, SF_SMOKE)
        .select("lang", "n_docs", "n_tokens")
    )
    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="alpha"):
            X.temperature_rates(d, validate=False, alpha=bad)


def test_training_shard_manifest_reconciles_with_components(spark):
    """Composed flagship #5 must reconcile EXACTLY with its standalone
    stages: per-language rate and selected count equal the α = 0.3
    mixture query's, the train subset is bounded by the selection, and
    each shard satisfies the packer's capacity identity
    capacity = train_tokens + pad − overflow (every token is inside
    the context, padding, or truncated). Empty-train langs keep their
    row with zero packs and NULL fill ratio."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    manifest = {
        r.lang: r
        for r in CATALOG["doc_training_shard_manifest"]
        .builder(spark, SF_SMOKE)
        .collect()
    }
    a3 = {
        r.lang: r
        for r in CATALOG["doc_temperature_mixture_alpha3"]
        .builder(spark, SF_SMOKE)
        .collect()
    }
    assert set(manifest) == set(a3)
    for lang, m in manifest.items():
        assert m.rate_pct == a3[lang].rate_pct, lang
        assert m.n_selected == a3[lang].n_sampled, lang
        assert 0 <= m.n_train <= m.n_selected
        assert m.capacity == m.n_packs * 512
        assert m.capacity == m.train_tokens + m.pad_tokens - m.overflow_tokens
        if m.n_packs == 0:
            assert m.fill_ratio is None and m.train_tokens == 0
        else:
            assert m.fill_ratio is not None and m.train_tokens > 0


def test_pack_efficiency_reconciles_with_pack_manifest(spark):
    """The efficiency report must reconcile EXACTLY with the pack
    manifest it audits: pack counts, token masses, extremes, and the
    identity capacity = total + pad - overflow per shard (every token
    is either inside the context, padding, or truncated)."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    packs = {}
    for r in CATALOG["doc_pack_sequences"].builder(spark, SF_SMOKE).collect():
        packs.setdefault(r.lang, []).append(r.pack_tokens)
    rows = CATALOG["doc_pack_efficiency"].builder(spark, SF_SMOKE).collect()
    assert {r.lang for r in rows} == set(packs)
    for r in rows:
        pt = packs[r.lang]
        assert r.n_packs == len(pt)
        assert r.total_tokens == sum(pt)
        assert r.capacity == 512 * len(pt)
        assert r.min_pack == min(pt) and r.max_pack == max(pt)
        assert r.overflow_tokens == sum(max(t - 512, 0) for t in pt)
        assert r.pad_tokens == sum(max(512 - t, 0) for t in pt)
        assert r.capacity == r.total_tokens + r.pad_tokens - r.overflow_tokens
        assert 0 < r.fill_ratio


def test_nb_langid_beats_dot_product_on_signal_fixture(spark):
    """The classifier-upgrade adjudication: on an IMBALANCED corpus
    whose languages carry real character-level signal (shared filler
    text + per-language marker bigrams), the frequency-dot-product
    classifier degenerates to predicting the majority language for
    every document (its profile counts scale with class size and
    nothing normalizes them), while the Naive-Bayes successor recovers
    the minority languages — perfect accuracy here, since the marker
    evidence is ~1 nat/bigram against the 0.02-nat margin. Also pins
    the abstain-to-prior margin: markerless docs stay at the prior
    argmax rather than flipping on profile noise."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import (
        langid_predictions,
        nb_langid_predictions,
    )

    filler = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    doc_id = 0
    # majority language: filler + its own marker
    for _ in range(30):
        rows.append((doc_id, "aa", f"{filler} mmmm mmmm {filler}")); doc_id += 1
    for _ in range(8):
        rows.append((doc_id, "bb", f"{filler} qqqq qqqq {filler}")); doc_id += 1
    for _ in range(8):
        rows.append((doc_id, "cc", f"{filler} xxxx xxxx {filler}")); doc_id += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    old = {r.doc_id: r.pred_lang for r in langid_predictions(df).collect()}
    # the dot product is majority-stuck: every prediction is 'aa'
    assert set(old.values()) == {"aa"}

    nb = {r.doc_id: (r.lang, r.pred_lang) for r in nb_langid_predictions(df).collect()}
    assert len(nb) == len(rows)
    acc = sum(a == p for a, p in nb.values()) / len(nb)
    old_acc = sum(1 for did, p in old.items() if nb[did][0] == p) / len(nb)
    assert acc == 1.0, f"NB should recover the markers, got {acc}"
    assert old_acc == 30 / 46  # the majority prior, for the record

    # margin behavior: a doc with no marker (pure filler) abstains to
    # the prior argmax instead of flipping on noise
    extra = spark.createDataFrame(
        rows + [(999, "bb", filler)], "doc_id long, lang string, text string"
    )
    preds = {r.doc_id: r.pred_lang for r in nb_langid_predictions(extra).collect()}
    assert preds[999] == "aa"


def test_lr_calibration_report_identities_and_signal(spark, tmp_path):
    """Calibration report invariants on the real corpus (identities
    hold, bins valid) and on a CONSTRUCTED corpus with real signal
    (long docs labeled en): multiple bins populate and the empirical
    positive rate increases with the predicted score — the reliability
    ordering a calibrated-enough classifier must show when the
    features genuinely separate the classes."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    rows = CATALOG["doc_lr_calibration_report"].builder(spark, SF_SMOKE).collect()
    assert rows and sum(r.n_docs for r in rows) > 0
    for r in rows:
        assert 0 <= r.bin <= 9 and 0 <= r.n_pos <= r.n_docs
        assert abs(r.gap - round(r.mean_score - r.pos_rate, 6)) < 1e-9
        assert 0 <= r.brier <= 1

    # constructed signal: en docs are long (f1 ~ 1), others short
    long_text = " ".join(f"tok{i}" for i in range(60))
    short_text = "a b c"
    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        F.when(F.col("id") % 2 == 0, long_text).otherwise(short_text).alias("text"),
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rep = sorted(
        CATALOG["doc_lr_calibration_report"].builder(spark, str(tmp_path)).collect(),
        key=lambda r: r.bin,
    )
    assert len(rep) >= 2, f"signal corpus should spread bins, got {rep}"
    assert sum(r.n_docs for r in rep) == 400
    # reliability ordering: the top bin is purer than the bottom bin
    assert rep[-1].pos_rate > rep[0].pos_rate
    assert rep[-1].mean_score > rep[0].mean_score


def test_repetition_report_planted_signals(spark):
    """Gopher repetition battery on constructed docs: a looped
    two-token doc maxes the top-2-gram coverage and trips every
    dup-n-gram cap; duplicated lines produce the exact published
    line fractions (the corpus parquet has no newlines, so this is
    where the line grade earns its values); a clean long doc passes;
    a doc shorter than a gram grade contributes zeros, not NULLs."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import (
        REPETITION_THRESHOLDS,
        line_dup_fracs,
        repetition_report,
    )

    clean_words = " ".join(f"w{i:03d}x" for i in range(60))
    df = spark.createDataFrame(
        [
            (1, "spam ham " * 30),
            (2, "line one\nline one\nline two"),
            (3, clean_words),
            (4, "a b c"),
            (5, "solo"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_report(df).collect()}
    # a <2-token doc has NO gram rows at all — it must still appear
    # in the report (left-join completion) with 0.0 fractions and PASS
    # the gate, not silently vanish (round-12 advice)
    assert len(rows) == 5
    solo = rows[5]
    assert solo.top_2gram_char_frac == 0.0
    assert solo.dup_5gram_char_frac == 0.0
    assert solo.dup_line_frac == 0.0
    assert solo.repetition_pass is True

    loop = rows[1]
    # "spam ham" occurs 30x, covers 7 chars * 30 / 210 non-space = 1.0
    assert loop.top_2gram_char_frac == 1.0
    # every 5..10-gram repeats: the overlapping-count approximation
    # can exceed 1 — what matters is it trips the cap
    assert loop.dup_5gram_char_frac > REPETITION_THRESHOLDS["dup_5gram_char_frac"]
    assert loop.dup_10gram_char_frac > REPETITION_THRESHOLDS["dup_10gram_char_frac"]
    assert loop.repetition_pass is False

    lined = rows[2]
    assert lined.n_lines == 3
    # one repeat occurrence of "line one" out of 3 lines
    assert lined.dup_line_frac == round(1 / 3, 6)
    # 8 duplicate chars of 24 line chars
    assert lined.dup_line_char_frac == round(8 / 24, 6)

    cleanr = rows[3]
    assert cleanr.repetition_pass is True
    assert cleanr.dup_5gram_char_frac == 0.0
    # 60 distinct 5-char tokens: top bigram count 1, separator chars
    # excluded from coverage — 10 of 300 non-space chars
    assert cleanr.top_2gram_char_frac == round(10 / 300, 6)

    tiny = rows[4]
    # no 4..10-grams exist: zeros, and the pass gate must not go NULL
    assert tiny.dup_10gram_char_frac == 0.0
    assert tiny.repetition_pass is not None

    # paragraph grade: same operator at the blank-line separator
    pdf = spark.createDataFrame(
        [(1, "para one here\n\npara one here\n\npara two here")],
        "doc_id long, text string",
    )
    dup_frac, dup_char_frac = line_dup_fracs(F.col("text"), sep="\n\n")
    prow = pdf.select(dup_frac.alias("f"), dup_char_frac.alias("cf")).first()
    assert prow.f == round(1 / 3, 6)
    assert prow.cf == round(13 / 39, 6)


def test_line_dup_fracs_regex_metachar_separator(spark):
    """line_dup_fracs treats ``sep`` as a LITERAL (regex-escaped before
    F.split) so a metacharacter separator matches the DuckDB twin's
    literal string_split instead of splitting on every character."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import line_dup_fracs

    df = spark.createDataFrame(
        [(1, "seg one|seg one|seg two")], "doc_id long, text string"
    )
    dup_frac, dup_char_frac = line_dup_fracs(F.col("text"), sep="|")
    row = df.select(dup_frac.alias("f"), dup_char_frac.alias("cf")).first()
    # 3 literal segments, one repeat of "seg one" (7 chars of 21)
    assert row.f == round(1 / 3, 6)
    assert row.cf == round(7 / 21, 6)


def test_decontaminate_prebuilt_gram_n_contract(spark):
    """Prebuilt gram rows carry gram_n column metadata; passing them to
    decontaminate_ngram/_bloom with a DIFFERENT n fails loudly instead
    of silently labeling documents against the wrong gram size."""
    import pytest

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.arrow_docs import shingle_rows_arrow
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import (
        decontaminate_bloom,
        decontaminate_ngram,
    )

    train = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(9, "charlie delta echo foxtrot")], "doc_id long, text string"
    )
    tg3 = shingle_rows_arrow(train, n=3)
    eg3 = shingle_rows_arrow(ev, n=3).select("shingle").distinct()
    # matching n: accepted, and equal to the self-built path
    ok = decontaminate_ngram(train, ev, n=3, train_grams=tg3, eval_grams=eg3)
    base = decontaminate_ngram(train, ev, n=3)
    assert [tuple(r) for r in ok.collect()] == [tuple(r) for r in base.collect()]
    # metadata survives select/distinct, and tracks n
    assert (tg3.schema["shingle"].metadata or {}).get("gram_n") == 3
    assert (eg3.schema["shingle"].metadata or {}).get("gram_n") == 3
    assert (
        shingle_rows_arrow(train, n=4).schema["shingle"].metadata or {}
    ).get("gram_n") == 4
    # n-mismatch: loud failure on either side, both tiers
    with pytest.raises(ValueError, match="built with n=3"):
        decontaminate_ngram(train, ev, n=4, train_grams=tg3)
    with pytest.raises(ValueError, match="built with n=3"):
        decontaminate_ngram(train, ev, n=4, eval_grams=eg3)
    with pytest.raises(ValueError, match="built with n=3"):
        decontaminate_bloom(train, ev, n=4, train_grams=tg3)
    # grams without a shingle column are rejected outright
    with pytest.raises(ValueError, match="shingle"):
        decontaminate_ngram(train, ev, n=3, train_grams=train)


def test_winnow_overlap_guarantee_and_grades(spark):
    """Winnowing invariants: any shared span of >= k + w - 1 tokens
    guarantees a shared fingerprint (the Schleimer et al. guarantee —
    planted 10-token fragment in otherwise-disjoint docs must pair);
    exact duplicates reach containment 1.0 with the full set shared;
    docs with < k tokens have no fingerprints; docs with 1..w-1 spans
    keep exactly the single global min; an over-ubiquitous fingerprint
    is dropped before the self-join."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import winnow_overlap_pairs
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import (
        rolling_window_hashes,
        winnow_fingerprints,
    )

    frag = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    a = " ".join(f"a{i}z" for i in range(30)) + " " + frag
    b = frag + " " + " ".join(f"b{i}q" for i in range(30))
    dup = "kilo lima mike november oscar papa quebec romeo sierra"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, dup), (4, dup), (5, "unrelated tokens only three")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r for r in winnow_overlap_pairs(df).collect()}
    assert (1, 2) in pairs, "shared >= k+w-1 span must produce a pair"
    exact = pairs[(3, 4)]
    assert exact.containment == 1.0
    assert exact.n_shared == exact.n_fp_a == exact.n_fp_b
    assert not any(5 in p for p in pairs)

    grades = spark.createDataFrame(
        [(1, "one two three"), (2, "one two three four five six")],
        "doc_id long, text string",
    )
    g = grades.select(
        "doc_id",
        F.size(rolling_window_hashes(F.col("text"))).alias("n_spans"),
        F.size(winnow_fingerprints(F.col("text"))).alias("n_fp"),
    ).collect()
    by_id = {r.doc_id: r for r in g}
    # < k tokens: the sequence(1, n<=0) descending-crash guard — no spans
    assert by_id[1].n_spans == 0 and by_id[1].n_fp == 0
    # 6 tokens -> 2 spans (< w): single global-min fingerprint
    assert by_id[2].n_spans == 2 and by_id[2].n_fp == 1

    many = spark.createDataFrame(
        [(i, dup) for i in range(12)], "doc_id long, text string"
    )
    capped = winnow_overlap_pairs(many, ubiquity_cap=10).collect()
    assert capped == [], "fingerprints above the ubiquity cap must not pair"

    # the pair operator's exploded window formulation must produce
    # EXACTLY the per-row array form's fingerprint sets (incl. the
    # short grades) — the two implementations are equality-pinned
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import _winnow_fp_rows

    both = df.unionByName(grades.withColumn("doc_id", F.col("doc_id") + 100))
    array_form = {
        (r.doc_id, r.fp)
        for r in both.select(
            "doc_id", F.explode(winnow_fingerprints(F.col("text"))).alias("fp")
        ).collect()
    }
    row_form = {
        (r.id, r.fp) for r in _winnow_fp_rows(both, "text", "doc_id", 5, 4).collect()
    }
    assert row_form == array_form and array_form


def test_decontamination_audit_reconciles_tiers(spark):
    """Composed flagship #7: every tier column in the audit equals the
    standalone entry's output row-for-row (one shared gram pass must
    not change any tier's answer), Bloom flags are a superset of exact
    flags (no false negatives), and the verdict/any-flag columns are
    pure functions of the tier flags."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans.text2 import decontamination_stage_frames
    from tests.conftest import SF_SMOKE

    frames = decontamination_stage_frames(spark, SF_SMOKE)
    audit = {r.doc_id: r for r in frames["s3_audit"].collect()}
    assert audit

    exact = {r.doc_id: r for r in CATALOG["doc_decontaminate_ngram"].builder(spark, SF_SMOKE).collect()}
    bloom = {r.doc_id: r for r in CATALOG["doc_decontaminate_bloom"].builder(spark, SF_SMOKE).collect()}
    sem = {r.vec_id: r for r in CATALOG["emb_semantic_decontaminate"].builder(spark, SF_SMOKE).collect()}

    assert set(audit) == set(exact) == set(bloom)
    for doc_id, a in audit.items():
        ex, bl = exact[doc_id], bloom[doc_id]
        assert (a.n_grams, a.n_contaminated_grams, a.contamination_ratio, a.contaminated) == (
            ex.n_grams, ex.n_contaminated_grams, ex.contamination_ratio, ex.contaminated
        )
        assert (a.n_bloom_hits, a.bloom_ratio, a.bloom_flagged) == (
            bl.n_bloom_hits, bl.bloom_ratio, bl.bloom_flagged
        )
        s = sem.get(doc_id)
        if s is not None:
            assert (a.nearest_eval_id, a.max_eval_sim) == (s.nearest_eval_id, s.max_eval_sim)
            assert a.semantic_flagged == s.contaminated
        else:
            assert a.semantic_flagged is False and a.max_eval_sim is None
        # Bloom has no false negatives
        assert (not a.contaminated) or a.bloom_flagged
        assert a.any_flagged == (a.contaminated or a.bloom_flagged or a.semantic_flagged)
        expect = (
            "lexical" if a.contaminated
            else "semantic_only" if a.semantic_flagged
            else "bloom_only" if a.bloom_flagged
            else "clean"
        )
        assert a.verdict == expect


def test_winnow_containment_estimator_semantics(spark):
    """Calibration readout invariants: exact duplicates sit at
    est = exact = 1.0 with zero error; a planted fragment pair gets
    BOTH a winnowed estimate and a nonzero exact containment; and the
    estimate is always in (0, 1] (it divides shared fingerprints by
    the smaller PRE-cap set)."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import winnow_containment_estimates

    frag = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    a = " ".join(f"a{i}z" for i in range(30)) + " " + frag
    b = frag + " " + " ".join(f"b{i}q" for i in range(30))
    dup = "kilo lima mike november oscar papa quebec romeo sierra"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, dup), (4, dup)], "doc_id long, text string"
    )
    rows = {(r.id_a, r.id_b): r for r in winnow_containment_estimates(df).collect()}
    exact_pair = rows[(3, 4)]
    assert exact_pair.est_containment == 1.0
    assert exact_pair.exact_containment == 1.0
    assert exact_pair.abs_err == 0.0
    frag_pair = rows[(1, 2)]
    assert frag_pair.exact_containment > 0
    assert 0 < frag_pair.est_containment <= 1.0
    for r in rows.values():
        assert 0 < r.est_containment <= 1.0
        assert r.abs_err == round(abs(r.est_containment - r.exact_containment), 6)


def test_feature_drift_psi_planted_and_null(spark):
    """PSI invariants: identical slices give EXACTLY 0.0 on every
    feature (equal proportions make every ln term zero — no float
    residue); a planted mean shift in one feature trips its verdict
    band while an untouched feature stays stable; out-of-range current
    values clamp into the tail bucket instead of vanishing."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import (
        PSI_MODERATE,
        feature_drift_psi,
    )

    base = spark.createDataFrame(
        [(i, float(20 + i % 10), 0.5) for i in range(200)],
        "doc_id long, n_tokens double, quality double",
    )
    # identical slices → psi exactly 0.0, verdict stable
    for r in feature_drift_psi(base, base, ("n_tokens", "quality")).collect():
        assert r.psi == 0.0 and r.drift == "stable", r

    # planted shift: current n_tokens far above the base range (tail
    # clamp), quality untouched
    cur = spark.createDataFrame(
        [(i, float(200 + i % 10), 0.5) for i in range(200)],
        "doc_id long, n_tokens double, quality double",
    )
    rows = {r.feature: r for r in feature_drift_psi(base, cur, ("n_tokens", "quality")).collect()}
    assert rows["n_tokens"].psi > PSI_MODERATE
    assert rows["n_tokens"].drift == "major_shift"
    assert rows["quality"].psi == 0.0 and rows["quality"].drift == "stable"
    assert rows["n_tokens"].n_base == 200 and rows["n_tokens"].n_cur == 200


def test_feature_drift_psi_degenerate_edges_and_nulls(spark):
    """Round-14 hardening of the PSI operator's public surface:

    1. a CONSTANT baseline feature (f_max == f_min) must still detect
       drift — the degenerate edge widens into an on-value/off-value
       bucket pair instead of mapping every value to bucket 0 (which
       made the monitor structurally blind for that feature);
    2. NULL feature values are EXCLUDED (not silently binned into the
       min bucket via greatest(NULL, 0) = 0), so n_base/n_cur count
       only real observations;
    3. the shared SQL generator (psi_sql_ctes) follows both rules and
       honors a non-default n_buckets — bucket CASE, spine range, and
       Laplace smoothing all derive from the parameter — so the Spark
       builder and a DuckDB oracle agree bit-for-bit off the default.
    """
    import duckdb

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import (
        feature_drift_psi,
        psi_sql_ctes,
    )

    # 1. constant baseline, drifted current → must NOT report stable
    base = spark.createDataFrame(
        [(i, 3.0) for i in range(100)], "doc_id long, score double"
    )
    cur = spark.createDataFrame(
        [(i, 9.0) for i in range(100)], "doc_id long, score double"
    )
    row = feature_drift_psi(base, cur, ("score",)).first()
    assert row.drift == "major_shift" and row.psi > 0, row
    # reflexivity still holds on the degenerate edge
    same = feature_drift_psi(base, base, ("score",)).first()
    assert same.psi == 0.0 and same.drift == "stable", same

    # 2. NULLs excluded: 40 real + 10 NULL per side → n_* == 40 and
    # the NULLs don't inflate the min bucket (identical reals → 0.0)
    base_n = spark.createDataFrame(
        [(i, float(i % 8)) for i in range(40)]
        + [(100 + i, None) for i in range(10)],
        "doc_id long, score double",
    )
    cur_n = spark.createDataFrame(
        [(i, float(i % 8)) for i in range(40)]
        + [(200 + i, None) for i in range(10)],
        "doc_id long, score double",
    )
    rn = feature_drift_psi(base_n, cur_n, ("score",)).first()
    assert rn.n_base == 40 and rn.n_cur == 40, rn
    assert rn.psi == 0.0 and rn.drift == "stable", rn

    # 3. non-default n_buckets: Spark builder vs the generated SQL
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "side": ["base"] * 60 + ["cur"] * 60,
            "score": [float(i % 12) for i in range(60)]
            + [float(6 + i % 12) for i in range(60)],
            "flat": [1.5] * 60 + [1.5] * 40 + [None] * 10 + [8.0] * 10,
        }
    )
    sdf = spark.createDataFrame(pdf)
    sbase = sdf.filter(sdf.side == "base").select("score", "flat")
    scur = sdf.filter(sdf.side == "cur").select("score", "flat")
    got = {
        r.feature: r
        for r in feature_drift_psi(
            sbase, scur, ("score", "flat"), n_buckets=5
        ).collect()
    }
    con = duckdb.connect()
    con.register("drift_src", pdf)
    sql = (
        "WITH "
        + psi_sql_ctes("drift_src", ("score", "flat"), n_buckets=5)
        + " SELECT * FROM psi_out ORDER BY feature"
    )
    want = con.execute(sql).df()
    assert len(want) == 2
    for _, w in want.iterrows():
        g = got[w["feature"]]
        assert g.n_base == w["n_base"] and g.n_cur == w["n_cur"], (g, w)
        assert g.psi == round(float(w["psi"]), 6), (g, w)
        assert g.drift == w["drift"], (g, w)
    # the constant-baseline feature with NULLs + drifted tail must be
    # visible (not 'stable') in BOTH engines
    assert got["flat"].drift != "stable"
    assert got["flat"].n_cur == 50  # 10 NULLs excluded
    con.close()


def test_ngram_novelty_planted(spark):
    """Planted novelty semantics: a verbatim copy of a reference doc
    scores 0.0, fully-new text scores 1.0, a half-overlapping doc
    scores the exact distinct-gram fraction, a short (<n tokens) doc
    degrades to its whole-text shingle (the _shingle_set contract),
    and blank-text docs are excluded entirely."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.dedup import ngram_novelty

    ref = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            # a short reference doc: its whole-text shingle is the only
            # thing a short CURRENT doc can match (a short doc's gram
            # is NOT a sub-gram of longer refs — 'zeta eta' below would
            # be novel against only 'zeta eta theta')
            (2, "zeta eta"),
        ],
        "doc_id long, text string",
    )
    cur = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # verbatim copy
            (11, "nova luna stella orbit comet"),    # fully new
            # grams: 'alpha beta gamma' (known), 'beta gamma nova',
            # 'gamma nova luna' (new) -> 2/3 novel
            (12, "alpha beta gamma nova luna"),
            (13, "zeta eta"),     # short: whole-text shingle, known
            (14, "qq rr"),        # short: whole-text shingle, new
            (15, "   "),          # blank: excluded
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in ngram_novelty(cur, ref, n=3).collect()}
    assert set(rows) == {10, 11, 12, 13, 14}
    assert rows[10].n_grams == 3 and rows[10].novelty_rate == 0.0
    assert rows[11].n_grams == 3 and rows[11].novelty_rate == 1.0
    assert rows[12].n_grams == 3 and rows[12].n_novel == 2
    assert rows[12].novelty_rate == round(2 / 3, 6)
    assert rows[13].n_grams == 1 and rows[13].novelty_rate == 0.0
    assert rows[14].n_grams == 1 and rows[14].novelty_rate == 1.0


def test_langid_kappa_report_identities(spark):
    """The kappa report's internal identities, recomputed from its own
    integer fields: po = n_agree/n, kappa = (po − pe)/(1 − pe) to the
    committed rounding, kappa bounded by [−1, 1], and the constant-
    predictor property — a classifier whose predictions are a single
    label has po == pe ALGEBRAICALLY, so kappa is exactly 0.0 (the
    bigram classifier on this corpus — the reason the report exists)."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    rows = CATALOG["doc_langid_kappa_report"].builder(spark, SF_SMOKE).collect()
    assert [r.classifier for r in rows] == ["bigram", "nb"]
    for r in rows:
        assert r.observed_agreement == round(r.n_agree / r.n_docs, 6)
        assert -1.0 <= r.cohen_kappa <= 1.0
        assert 0.0 <= r.expected_agreement <= 1.0
    bigram = rows[0]
    # constant predictor: every doc predicted the majority label
    assert bigram.observed_agreement == bigram.expected_agreement
    assert bigram.cohen_kappa == 0.0


def test_confusion_matrix_fold_equivalence(spark):
    """r16 fold guard: the eval/kappa reports now aggregate the
    prediction relation ONCE into a (lang, pred_lang) confusion-matrix
    count and derive every marginal/scalar from it. Pin the algebra on
    a synthetic relation that includes NULL gold labels and NULL
    predictions: matrix-derived n_actual / n_correct / n_predicted /
    n / n_agree must equal the direct per-row aggregates the r15 shape
    computed."""
    from pyspark.sql import functions as F

    rows = [
        ("en", "en"),
        ("en", "de"),
        ("de", "de"),
        ("de", None),
        (None, "en"),
        (None, None),
        ("fr", "en"),
    ]
    p = spark.createDataFrame(rows, "lang string, pred_lang string")
    cm = p.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    agree_cell = F.when(
        F.col("pred_lang") == F.col("lang"), F.col("c")
    ).otherwise(F.lit(0))
    # per-actual marginal (eval reports' act)
    folded = {
        r["lang"]: (r["n_actual"], r["n_correct"])
        for r in cm.groupBy("lang")
        .agg(
            F.sum("c").alias("n_actual"),
            F.sum(agree_cell).alias("n_correct"),
        )
        .collect()
    }
    direct = {
        r["lang"]: (r["n_actual"], r["n_correct"])
        for r in p.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_actual"),
            F.coalesce(
                F.sum((F.col("pred_lang") == F.col("lang")).cast("long")),
                F.lit(0),
            ).alias("n_correct"),
        )
        .collect()
    }
    assert folded == direct
    # per-predicted marginal (prd)
    folded_prd = {
        r["pred_lang"]: r["n"]
        for r in cm.groupBy("pred_lang").agg(F.sum("c").alias("n")).collect()
    }
    direct_prd = {
        r["pred_lang"]: r["n"]
        for r in p.groupBy("pred_lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert folded_prd == direct_prd
    # kappa confusion scalars
    conf = cm.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n"),
        F.sum(agree_cell).alias("n_agree"),
    ).first()
    assert conf["n"] == len(rows)
    assert conf["n_agree"] == sum(
        1 for g, q in rows if g is not None and q is not None and g == q
    )


def test_vocab_oov_report_planted(spark):
    """OOV semantics: a token only in the current slice is OOV; the
    base top-N election is by (count DESC, token ASC) with the
    boundary tie token-broken; rates are exact occurrence/type
    ratios."""
    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import vocab_oov_report

    base = spark.createDataFrame(
        [
            (1, "en", "alpha alpha alpha beta beta gamma"),
            (2, "en", "alpha delta delta gamma gamma"),
        ],
        "doc_id long, lang string, text string",
    )
    cur = spark.createDataFrame(
        # alpha (vocab), beta (out at top_n=3? see below), NEWTOK (oov)
        [(3, "en", "alpha beta newtok newtok")],
        "doc_id long, lang string, text string",
    )
    # base counts: alpha 4, gamma 3, delta 2, beta 2 -> top-3 by
    # (count desc, token asc) = alpha, gamma, BETA (beta < delta at
    # the count-2 tie)
    row = vocab_oov_report(base, cur, top_n=3).first()
    assert row.lang == "en"
    assert row.n_cur_occurrences == 4 and row.n_cur_types == 3
    # oov occurrences: newtok x2 of 4; oov types: newtok of 3
    assert row.oov_occurrence_rate == 0.5
    assert row.oov_type_rate == round(1 / 3, 6)
    # at top_n=2 beta falls out of vocab too
    row2 = vocab_oov_report(base, cur, top_n=2).first()
    assert row2.oov_occurrence_rate == 0.75
    assert row2.oov_type_rate == round(2 / 3, 6)


def test_curation_funnel_invariants(spark):
    """The attrition funnel must reconcile with the flagship it audits:
    stage counts monotonically non-increasing (no stage ever ADDS
    documents or tokens), removed_* columns are exact first differences,
    the packing stage preserves the corpus bit-for-bit (stage 8 ==
    stage 7), and the terminal stage equals doc_curation_pipeline's own
    manifest totals — funnel and flagship read the SAME stage frames,
    so a drift between them is a real pipeline bug, not test noise."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from tests.conftest import SF_SMOKE

    rows = (
        CATALOG["doc_curation_funnel"].builder(spark, SF_SMOKE)
        .orderBy("stage_ord")
        .collect()
    )
    assert [r.stage_ord for r in rows] == list(range(9))
    assert rows[0].stage == "raw" and rows[-1].stage == "split_pack"
    assert rows[0].removed_docs is None and rows[0].removed_tokens is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_docs <= prev.n_docs, (prev, cur)
        assert cur.n_tokens <= prev.n_tokens, (prev, cur)
        assert cur.removed_docs == prev.n_docs - cur.n_docs
        assert cur.removed_tokens == prev.n_tokens - cur.n_tokens
    # packing reorganizes, never drops: the manifest stage is exactly
    # the canonical-corpus stage
    assert rows[8].n_docs == rows[7].n_docs
    assert rows[8].n_tokens == rows[7].n_tokens
    # terminal row == the flagship's own manifest totals
    manifest = CATALOG["doc_curation_pipeline"].builder(spark, SF_SMOKE)
    tot = manifest.agg(
        F.sum("n_docs").alias("d"), F.sum("total_tokens").alias("t")
    ).first()
    assert rows[8].n_docs == tot.d
    assert rows[8].n_tokens == tot.t
    # the funnel actually attrites on this corpus (the gates are live)
    assert rows[8].n_docs < rows[0].n_docs


def test_scd2_history_invariants(spark):
    """SCD2 interval-table contract on the real events corpus: per
    user, versions are contiguous from 1; exactly one open (is_current,
    NULL effective_to) version; intervals chain with zero gap/overlap
    (effective_to == next version's effective_from); adjacent versions
    differ in event_type (a run-collapse that emits two equal
    neighbours didn't collapse); and the interval event counts
    reconcile with the raw per-user event count."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = (
        CATALOG["events_scd2_history"].builder(spark, SF_SMOKE)
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    raw_counts = {
        r.user_id: r.c
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert set(by_user) == set(raw_counts)
    for uid, hist in by_user.items():
        hist.sort(key=lambda r: r.version)
        assert [h.version for h in hist] == list(range(1, len(hist) + 1))
        opens = [h for h in hist if h.is_current]
        assert len(opens) == 1 and opens[0] is hist[-1]
        assert hist[-1].effective_to is None
        for a, b in zip(hist, hist[1:]):
            assert a.effective_to == b.effective_from, (uid, a, b)
            assert a.event_type != b.event_type, (uid, a, b)
            assert a.effective_from < a.effective_to
        assert sum(h.n_events for h in hist) == raw_counts[uid]


def test_bpe_fertility_reconciles_with_per_doc_stats(spark):
    """The per-language fertility report must be EXACTLY one
    aggregation away from the per-document BPE entry: same merge
    table (deterministic train), so per-lang BIGINT sums reconcile
    row-for-row, fertility >= 1 wherever a language has non-empty
    words (a word is at least one subword), and every language with
    non-null text appears."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.plans import CATALOG
    from streamprocessing_kafka_finlight_news_dashboard_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    report = {
        r.lang: r
        for r in CATALOG["doc_bpe_fertility_report"].builder(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents")
    per_doc = CATALOG["doc_bpe_token_stats"].builder(spark, SF_SMOKE)
    want = {
        r.lang: r
        for r in per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws_tokens").alias("n_ws_tokens"),
            F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
            F.sum("n_chars").alias("n_chars"),
        )
        .collect()
    }
    assert set(report) == set(want) and report
    for lang, w in want.items():
        g = report[lang]
        assert (g.n_docs, g.n_ws_tokens, g.n_bpe_tokens, g.n_chars) == (
            w.n_docs,
            w.n_ws_tokens,
            w.n_bpe_tokens,
            w.n_chars,
        ), lang
        assert g.fertility >= 1.0, (lang, g.fertility)
        assert g.chars_per_bpe_token > 0, (lang, g)
    langs_with_text = {
        r.lang for r in docs.filter(F.col("text").isNotNull()).select("lang").distinct().collect()
    }
    assert set(report) == langs_with_text


def test_ks_drift_reflexivity_and_planted_shift(spark):
    """KS operator contract: identical slices report D exactly 0.0
    (integer cross-multiplied max — no float residue) and no drift;
    fully disjoint value ranges report D exactly 1.0 and certain
    rejection; a mild planted shift lands strictly between."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import ks_drift_report

    base = spark.range(1, 101).select(F.col("id").cast("double").alias("x"))
    same = ks_drift_report(base, base, ("x",)).collect()[0]
    assert same.ks_stat == 0.0 and same.drift is False
    assert same.n_base == 100 and same.n_cur == 100

    shifted = spark.range(101, 201).select(F.col("id").cast("double").alias("x"))
    full = ks_drift_report(base, shifted, ("x",)).collect()[0]
    assert full.ks_stat == 1.0 and full.drift is True

    mild = spark.range(1, 101).select((F.col("id") + 10).cast("double").alias("x"))
    mid = ks_drift_report(base, mild, ("x",)).collect()[0]
    # shift by 10 over 100 points: D = 0.1, below the alpha=.05
    # threshold 1.358*sqrt(200/10000) ~ 0.192
    assert mid.ks_stat == 0.1 and mid.drift is False
    big = spark.range(1, 101).select((F.col("id") + 30).cast("double").alias("x"))
    rej = ks_drift_report(base, big, ("x",)).collect()[0]
    assert rej.ks_stat == 0.3 and rej.drift is True


def test_chi2_drift_planted_shift_and_identity(spark):
    """Chi-square operator contract: identical category mixes report
    chi2 exactly 0.0 with p = 1.0 (accept); a hard planted shift
    (categories swap dominance) rejects at alpha=0.05; odd df yields
    NULL p-value/drift (documented erf gap), never a wrong number."""
    from pyspark.sql import functions as F

    from streamprocessing_kafka_finlight_news_dashboard_spark.operators.text import categorical_drift_chi2

    rows_a = [("en",)] * 50 + [("de",)] * 30 + [("fr",)] * 20
    a = spark.createDataFrame(rows_a, "lang string")
    same = categorical_drift_chi2(a, a, "lang").collect()[0]
    assert same.chi2 == 0.0 and same.p_value == 1.0 and same.drift is False
    assert same.df == 2 and same.n_categories == 3

    rows_b = [("en",)] * 20 + [("de",)] * 30 + [("fr",)] * 50
    b = spark.createDataFrame(rows_b, "lang string")
    shift = categorical_drift_chi2(a, b, "lang").collect()[0]
    assert shift.chi2 > 15 and shift.drift is True and shift.p_value < 0.05
    assert 0 < shift.cramers_v <= 1

    # odd df (2 categories -> df=1): exact chi2/V, NULL p (no erf)
    two = spark.createDataFrame([("en",)] * 60 + [("de",)] * 40, "lang string")
    odd = categorical_drift_chi2(two, two, "lang").collect()[0]
    assert odd.df == 1 and odd.p_value is None and odd.drift is None
    assert odd.chi2 == 0.0
