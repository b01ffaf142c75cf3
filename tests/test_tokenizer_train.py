"""Tokenizer TRAINING (pipeline/tokenizer_train.py, r13 second half):
the distributed word-count phase (hand-counted expectations, the
blank/NULL convention, the deterministic top-N boundary), the driver
merge loops (the classic Sennrich corpus pinned exactly, the
incremental loop property-checked against a from-scratch naive
reference, the WordPiece likelihood criterion pinned on a corpus where
it DISAGREES with raw pair frequency), and the round trip: train →
apply → wire."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from blaze_spark import data
from blaze_spark.pipeline import (
    train_bpe,
    train_vocab,
    train_wordpiece,
    word_frequencies,
)
from blaze_spark.pipeline.tokenizer import tokenizer_from_wire
from blaze_spark.pipeline.tokenizer_train import (
    _train_merges,
    _wp_join,
)

ROWS = [
    (1, "low low low low low lower lower", "a"),
    (2, "newest newest newest newest newest newest", "a"),
    (3, "widest widest widest", "b"),
    (4, "   ", "b"),
    (5, None, "b"),
]


@pytest.fixture(scope="module")
def tdocs(spark):
    return data(ROWS, spark=spark,
                schema="doc_id bigint, text string, source string",
                name="traindocs")


def test_word_frequencies_hand_counted(spark, tdocs):
    rows = word_frequencies(tdocs).collect()
    # (cnt DESC, word ASC) total order; blank + NULL texts vanish
    assert [(r["word"], r["cnt"]) for r in rows] == [
        ("newest", 6), ("low", 5), ("widest", 3), ("lower", 2)]


def test_word_frequencies_top_n_boundary_and_min_count(spark, tdocs):
    top = word_frequencies(tdocs, max_words=2).collect()
    assert [(r["word"], r["cnt"]) for r in top] == [
        ("newest", 6), ("low", 5)]
    floor = word_frequencies(tdocs, min_count=3).collect()
    assert {r["word"] for r in floor} == {"newest", "low", "widest"}


def test_train_bpe_sennrich_corpus(spark):
    """The classic corpus (Sennrich et al. 2016 §3.2's example shape):
    {low:5, lower:2, newest:6, widest:3} — merge order hand-derived:
    (e,s)=9 ties (s,t)=9, lex-smallest wins; then (es,t)=9, (l,o)=7,
    (lo,w)=7, (e,w)=6 ties (n,e)... lex; then (ew,est)=6."""
    wf = data([("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
              spark=spark, schema="word string, cnt long",
              name="sennrich")
    tok = train_bpe(word_freq=wf.df, num_merges=6, min_pair_count=1)
    assert tok.merges == [("e", "s"), ("es", "t"), ("l", "o"),
                          ("lo", "w"), ("e", "w"), ("ew", "est")]
    # the trained tokenizer segments its own training words
    got = tok._apply_word("newest", {p: i for i, p in
                                     enumerate(tok.merges)})
    assert got == ["n", "ewest"]  # (e,w)+(ew,est) chain both applied


def _naive_bpe(freq: dict, num: int, minc: int):
    """From-scratch reference: recount every pair every round."""
    seqs = {w: list(w) for w in freq}
    merges = []
    for _ in range(num):
        pc: Counter = Counter()
        for w, s in seqs.items():
            for p in zip(s, s[1:]):
                pc[p] += freq[w]
        cand = [(c, p) for p, c in pc.items() if c >= minc]
        if not cand:
            break
        best_c = max(c for c, _ in cand)
        p = min(p for c, p in cand if c == best_c)
        merges.append(p)
        for w, s in seqs.items():
            ns, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == p[0] and s[i + 1] == p[1]:
                    ns.append(p[0] + p[1])
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            seqs[w] = ns
    return merges


def test_incremental_loop_matches_naive_reference():
    rng = random.Random(20260816)
    for _ in range(40):
        freq = {"".join(rng.choice("abcd")
                        for _ in range(rng.randint(1, 9))):
                rng.randint(1, 9)
                for _ in range(rng.randint(1, 50))}
        fast, _, _ = _train_merges(freq, list, 15, 1, wordpiece=False)
        assert fast == _naive_bpe(freq, 15, 1)


def test_wordpiece_criterion_disagrees_with_raw_frequency():
    """Pin the likelihood criterion: pair (t,##h) is the most FREQUENT
    (27, between very common symbols) but (q,##z) scores higher —
    27/(27·27) < 2/(2·2) — so WordPiece picks (q,##z) first where
    BPE-style counting would pick (t,##h)."""
    freq = {"the": 9, "that": 9, "this": 9, "qz": 2}
    to_sym = lambda w: [w[0]] + ["##" + c for c in w[1:]]  # noqa: E731
    wp, sym, _ = _train_merges(freq, to_sym, 1, 1, wordpiece=True)
    bp, _, _ = _train_merges(freq, to_sym, 1, 1, wordpiece=False)
    assert wp == [("q", "##z")]
    assert bp == [("t", "##h")]


def test_train_wordpiece_vocab_shape(spark, tdocs):
    wp = train_wordpiece(tdocs, vocab_size=40, min_pair_count=2)
    assert wp.vocab[0] == "[UNK]"
    # alphabet: word-initial chars plain, continuations ##-prefixed
    assert "l" in wp.vocab and "##o" in wp.vocab
    assert len(wp.vocab) <= 40
    # merged tokens keep the continuation prefix discipline
    merged = [v for v in wp.vocab if len(v.lstrip("#")) > 1]
    assert merged, "no merges learned"
    for m in merged:
        assert not m.startswith("###")
    # and the trained tokenizer applies: frequent whole words resolve
    # to few pieces, with no [UNK] on training text
    out = tdocs.df.filter(F.col("text").isNotNull()).select(
        wp.pieces(F.col("text")).alias("p")).collect()
    for r in out:
        assert "[UNK]" not in r["p"]


def test_train_vocab_is_topk(spark, tdocs):
    vt = train_vocab(tdocs, vocab_size=3)
    assert vt.vocab == ["newest", "low", "widest"]
    n = tdocs.df.select(F.sum(vt.n_tokens(F.col("text")))).first()[0]
    # every training token is in-vocab except 'lower' (2 occurrences,
    # 5 chars → ceil(5/4)=2 pieces each)
    assert n == 6 + 5 + 3 + 2 * 2


def test_byte_level_training_learns_space_glue(spark, tdocs):
    tok = train_bpe(tdocs, num_merges=8, byte_level=True,
                    min_pair_count=2)
    assert tok.byte_level
    # GPT-2 pre-tokens glue the leading space: merges live in the
    # byte→unicode space where space is Ġ
    assert any("Ġ" in a or "Ġ" in b for a, b in tok.merges)
    # trained-tokenizer counts are stable and >0 on real text
    n = tdocs.df.filter(F.col("doc_id") == 1).select(
        tok.n_tokens(F.col("text"))).first()[0]
    assert n >= 7  # at least one piece per word


def test_trained_tokenizers_wire_roundtrip(spark, tdocs):
    bpe = train_bpe(tdocs, num_merges=6, min_pair_count=2)
    back = tokenizer_from_wire(bpe.to_wire())
    assert back.merges == bpe.merges
    assert back.byte_level == bpe.byte_level
    wp = train_wordpiece(tdocs, vocab_size=40)
    back_wp = tokenizer_from_wire(wp.to_wire())
    assert back_wp.vocab == wp.vocab
    vt = train_vocab(tdocs, vocab_size=4, fallback_chars=3)
    back_vt = tokenizer_from_wire(vt.to_wire())
    assert back_vt.vocab == vt.vocab
    assert back_vt.fallback_chars == 3


def test_word_freq_path_equals_corpus_path(spark, tdocs):
    wf = word_frequencies(tdocs)
    a = train_bpe(tdocs, num_merges=6, min_pair_count=2)
    b = train_bpe(word_freq=wf, num_merges=6, min_pair_count=2)
    assert a.merges == b.merges


def test_early_stop_below_min_pair_count(spark, tdocs):
    tok = train_bpe(tdocs, num_merges=500, min_pair_count=4)
    # only pairs inside 'newest'(6) and 'low'(5) reach count 4; the
    # loop must stop early, not error or pad
    assert 0 < len(tok.merges) < 500


def test_trainer_validation(spark, tdocs):
    with pytest.raises(ValueError, match="num_merges"):
        train_bpe(tdocs, num_merges=0)
    with pytest.raises(ValueError, match="num_merges"):
        train_bpe(tdocs, num_merges=100_000)
    with pytest.raises(ValueError, match="vocab_size"):
        train_wordpiece(tdocs, vocab_size=0)
    with pytest.raises(ValueError, match="max_words"):
        word_frequencies(tdocs, max_words=0)
    with pytest.raises(ValueError, match="min_count"):
        word_frequencies(tdocs, min_count=0)
    with pytest.raises(ValueError, match="min_pair_count"):
        train_bpe(tdocs, min_pair_count=0)
    with pytest.raises(ValueError, match="not both"):
        train_bpe(tdocs, word_freq=word_frequencies(tdocs))
    with pytest.raises(ValueError, match="not both"):
        train_bpe()
    # mis-shaped word_freq frames fail loudly
    bad = tdocs.df.select("doc_id", "text")
    with pytest.raises(ValueError, match="word STRING"):
        train_bpe(word_freq=bad)
    neg = data([("w", -1)], spark=spark, schema="word string, cnt long",
               name="negwf")
    with pytest.raises(ValueError, match="non-positive"):
        train_bpe(word_freq=neg.df)
    # alphabet larger than vocab_size: loud, never silent truncation
    wide = data([(chr(0x4E00 + i), 1) for i in range(30)], spark=spark,
                schema="word string, cnt long", name="widewf")
    with pytest.raises(ValueError, match="alphabet"):
        train_wordpiece(word_freq=wide.df, vocab_size=10,
                        min_pair_count=1)


def test_duplicate_words_sum(spark):
    """The additive counts-frame contract: a union of two snapshots'
    word counts is a legitimate word_freq input."""
    wf = data([("ab", 3), ("ab", 4), ("ac", 5)], spark=spark,
              schema="word string, cnt long", name="dupwf")
    tok = train_bpe(word_freq=wf.df, num_merges=1, min_pair_count=1)
    # ab: 7 > ac: 5
    assert tok.merges == [("a", "b")]


def test_determinism_across_runs(spark, tdocs):
    a = train_wordpiece(tdocs, vocab_size=40)
    b = train_wordpiece(tdocs, vocab_size=40)
    assert a.vocab == b.vocab
    x = train_bpe(tdocs, num_merges=8, byte_level=True)
    y = train_bpe(tdocs, num_merges=8, byte_level=True)
    assert x.merges == y.merges


def test_wp_join_continuation_discipline():
    assert _wp_join("a", "##b") == "ab"
    assert _wp_join("##a", "##b") == "##ab"
    assert _wp_join("a", "b") == "ab"


# ---------------------------------------------------------------------------
# Unigram-LM (Kudo 2018): Viterbi apply, EM vs full enumeration,
# training quality, wire form, determinism, validation.

import math

from blaze_spark.pipeline import UnigramTokenizer, train_unigram
from blaze_spark.pipeline.tokenizer import tokenizer_from_wire as _tfw
from blaze_spark.pipeline.tokenizer_train import _lse, _uni_em


def test_unigram_viterbi_hand_computed():
    v = UnigramTokenizer({"a": -1.0, "b": -1.0, "ab": -1.5})
    assert v._apply_word("ab", v.vocab, -20.0, 2) == ["ab"]
    # char fallback for OOV chars, at unk_logp
    assert v._apply_word("zab", v.vocab, -20.0, 2) == ["z", "ab"]
    # exact tie prefers the LONGER piece (deterministic)
    t = UnigramTokenizer({"a": -1.0, "b": -1.0, "ab": -2.0})
    assert t._apply_word("ab", t.vocab, -20.0, 2) == ["ab"]


def test_unigram_em_matches_enumeration():
    """The forward-backward E-step equals brute-force enumeration of
    EVERY segmentation, posterior-weighted — the lattice math is
    exact, not approximate."""
    words, freqs = ["ab", "abc", "b"], [3, 2, 5]
    lp0 = {p: math.log(1 / 6) for p in ["a", "b", "c", "ab", "bc"]}
    got = _uni_em(words, freqs, dict(lp0), 4, 1)

    from collections import Counter
    exp: Counter = Counter()
    for w, f in zip(words, freqs):
        segs = []

        def rec(i, cur, w=w, segs=segs):
            if i == len(w):
                segs.append(list(cur))
                return
            for j in range(i + 1, min(len(w), i + 4) + 1):
                if w[i:j] in lp0:
                    cur.append(w[i:j])
                    rec(j, cur)
                    cur.pop()

        rec(0, [])
        tot = _lse([sum(lp0[p] for p in s) for s in segs])
        for s in segs:
            post = math.exp(sum(lp0[p] for p in s) - tot)
            for p in s:
                exp[p] += f * post
    for ch in "abc":
        exp[ch] = max(exp.get(ch, 0.0), 1e-9)
    total = sum(exp.values())
    want = {p: math.log(c / total) for p, c in exp.items() if c > 0}
    assert set(got) == set(want)
    assert all(abs(got[p] - want[p]) < 1e-12 for p in want)


def test_train_unigram_learns_frequent_words(spark):
    rows = [(i, "hello world " * 5 + f"rare{i}") for i in range(20)]
    t = data(rows, spark=spark, schema="doc_id bigint, text string",
             name="unidocs")
    tok = train_unigram(t, vocab_size=40, max_piece_len=6)
    assert len(tok.vocab) <= 40
    multis = {p for p in tok.vocab if len(p) > 1}
    assert "hello" in multis and "world" in multis
    # probabilities normalize (applier contract: all logp <= 0)
    assert abs(math.exp(_lse(list(tok.vocab.values()))) - 1.0) < 1e-9
    # frequent words segment as ONE piece through the Spark UDF
    got = t.df.limit(1).select(
        tok.pieces(F.col("text")).alias("p")).first()["p"]
    assert got[:4] == ["hello", "world", "hello", "world"]


def test_unigram_udf_matches_module_reference(spark):
    rows = [(1, "hello world"), (2, "abz qqq"), (3, None), (4, "  ")]
    t = data(rows, spark=spark, schema="doc_id bigint, text string",
             name="unisync")
    tok = UnigramTokenizer({"hello": -2.0, "world": -2.0, "a": -3.0,
                            "b": -3.0, "ab": -2.5, "q": -4.0})
    got = {r["doc_id"]: r["p"] for r in t.df.select(
        "doc_id", tok.pieces(F.col("text")).alias("p")).collect()}
    for doc_id, text in rows:
        if text is None or not text.strip():
            assert got[doc_id] == []
            continue
        want = []
        for w in text.split():
            want.extend(UnigramTokenizer._apply_word(
                w, tok.vocab, tok.unk_logp, tok.max_piece_len))
        assert got[doc_id] == want, (doc_id, got[doc_id], want)


def test_unigram_wire_roundtrip_and_skew(spark, tdocs):
    tok = train_unigram(tdocs, vocab_size=30, max_piece_len=6)
    back = _tfw(tok.to_wire())
    assert back.vocab == tok.vocab
    assert back.unk_logp == tok.unk_logp
    import pytest as _pt
    with _pt.raises(ValueError, match="matching client version"):
        _tfw({"kind": "unigram", "vocab": [], "lowercase": False,
              "unk_logp": -20.0, "future": 1})


def test_unigram_determinism(spark, tdocs):
    a = train_unigram(tdocs, vocab_size=30)
    b = train_unigram(tdocs, vocab_size=30)
    assert a.vocab == b.vocab


def test_unigram_validation(spark, tdocs):
    with pytest.raises(ValueError, match="<= 0"):
        UnigramTokenizer({"a": 0.5})
    with pytest.raises(ValueError, match="empty piece"):
        UnigramTokenizer({"": -1.0})
    with pytest.raises(ValueError, match="unk_logp"):
        UnigramTokenizer({"a": -1.0}, unk_logp=0.0)
    with pytest.raises(ValueError, match="vocab_size"):
        train_unigram(tdocs, vocab_size=0)
    with pytest.raises(ValueError, match="max_piece_len"):
        train_unigram(tdocs, max_piece_len=1)
    with pytest.raises(ValueError, match="em_iters"):
        train_unigram(tdocs, em_iters=0)
    with pytest.raises(ValueError, match="shrink"):
        train_unigram(tdocs, shrink=1.0)
    with pytest.raises(ValueError, match="alphabet"):
        train_unigram(tdocs, vocab_size=3)


def test_unigram_from_tokenizer_json_marker_space(spark, tmp_path):
    """A real-shape HF Unigram artifact (the SentencePiece family):
    ▁-marked pieces apply VERBATIM — each word segments as ▁word —
    the unk_id piece is excluded and its score becomes the fallback,
    and detokenize inverts exactly in marker space."""
    import json

    spec = {"model": {"type": "Unigram", "unk_id": 0,
                      "vocab": [["<unk>", 0.0],
                                ["▁the", -1.0],
                                ["▁quick", -2.0],
                                ["▁", -4.0],
                                ["qu", -5.0], ["ick", -5.0],
                                ["t", -6.0], ["h", -6.0], ["e", -6.0],
                                ["q", -6.0], ["u", -6.0], ["i", -6.0],
                                ["c", -6.0], ["k", -6.0]]}}
    p = tmp_path / "unigram.json"
    p.write_text(json.dumps(spec))
    tok = UnigramTokenizer.from_tokenizer_json(str(p))
    assert tok.space_marker == "▁"
    assert "<unk>" not in tok.vocab
    assert tok.unk_logp < 0
    t = data([(1, "the quick")], spark=spark,
             schema="doc_id bigint, text string", name="unij")
    got = t.df.select(tok.pieces(F.col("text")).alias("p"),
                      tok.n_tokens(F.col("text")).alias("n")).first()
    assert got["p"] == ["▁the", "▁quick"] and got["n"] == 2
    # detokenize inverts exactly in marker space
    back = t.df.select(
        tok.detokenize(tok.pieces(F.col("text"))).alias("t")).first()
    assert back["t"] == "the quick"
    # wire round trip carries the marker
    back_tok = tokenizer_from_wire(tok.to_wire())
    assert back_tok.space_marker == "▁"
    assert back_tok.vocab == tok.vocab
    # wrong model type refuses with guidance
    bad = tmp_path / "bpe.json"
    bad.write_text(json.dumps({"model": {"type": "BPE", "merges": []}}))
    with pytest.raises(ValueError, match="model.type"):
        UnigramTokenizer.from_tokenizer_json(str(bad))


def test_word_frequencies_wire_and_remote_training(spark, tdocs):
    """Remote tokenizer training (r13 second half): the word count —
    the ONLY corpus-scale phase — runs server-side as a dialect node;
    the bounded relation crosses the wire and the merge loop trains
    client-side to the identical tokenizer.  Corpus-input trainers
    still refuse remote tables with routing guidance."""
    import blaze_spark.interop as interop
    from blaze_spark.server import BlazeSparkServer

    srv = BlazeSparkServer({"traindocs": tdocs}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::traindocs",
                  spark=spark)
        wf_r = word_frequencies(rt, max_words=10)
        got = sorted(map(tuple, wf_r.compute().itertuples(index=False)))
        want = sorted(map(tuple,
                          word_frequencies(tdocs, max_words=10)
                          .collect()))
        assert got == want and len(got) == 4
        # the full remote-training flow: server counts, client trains
        tok_r = train_bpe(word_freq=wf_r, num_merges=6,
                          min_pair_count=2)
        tok_l = train_bpe(tdocs, num_merges=6, min_pair_count=2)
        assert tok_r.merges == tok_l.merges
        vt_r = train_vocab(word_freq=wf_r, vocab_size=3)
        assert vt_r.vocab == train_vocab(tdocs, vocab_size=3).vocab
        # corpus-input trainers refuse remote tables, with guidance
        for fn in (train_bpe, train_wordpiece, train_vocab,
                   train_unigram):
            with pytest.raises(TypeError, match="word_freq="):
                fn(rt)
    finally:
        srv.stop()
    # version-skew: unknown keywords reject loudly at replay
    with pytest.raises(ValueError, match="matching client version"):
        interop.from_tree(
            {"op": "word_frequencies",
             "args": [{"op": "symbol", "args": ["traindocs"]},
                      {"future_knob": 1}]},
            spark=spark, datasets={"traindocs": tdocs})


def test_train_unigram_marker_space(spark):
    """space_marker trains in SentencePiece's own convention: learned
    pieces carry the word boundary, frequent words surface as ▁word
    pieces, and detokenization round-trips EXACTLY."""
    rows = [(i, "hello world hello world") for i in range(10)]
    t = data(rows, spark=spark, schema="doc_id bigint, text string",
             name="umark")
    tok = train_unigram(t, vocab_size=60, max_piece_len=8,
                        space_marker="▁")
    assert tok.space_marker == "▁"
    multis = {p for p in tok.vocab if len(p) > 1}
    assert "▁hello" in multis and "▁world" in multis
    got = t.df.limit(1).select(
        tok.pieces(F.col("text")).alias("p"),
        tok.detokenize(tok.pieces(F.col("text"))).alias("t")).first()
    assert got["p"] == ["▁hello", "▁world", "▁hello", "▁world"]
    assert got["t"] == "hello world hello world"


def test_tokenizer_stats_report_and_wire(spark, tdocs):
    """The fertility report: whitespace baseline is exactly 1.0; a
    vocab tokenizer's totals hand-check; the wire form runs the
    aggregate server-side and matches local."""
    from blaze_spark.pipeline import VocabTokenizer, tokenizer_stats
    from blaze_spark.server import BlazeSparkServer

    base = tokenizer_stats(tdocs).collect()[0]
    assert base["n_docs"] == 5 and base["fertility"] == 1.0
    assert base["total_words"] == base["total_tokens"] == 16
    vt = VocabTokenizer(["newest", "low"], fallback_chars=4)
    got = tokenizer_stats(tdocs, tokenizer=vt).collect()[0]
    # newest×6=6, low×5=5, widest×3→2 pieces each=6, lower×2→2 each=4
    assert got["total_tokens"] == 6 + 5 + 6 + 4
    assert got["fertility"] == round(21 / 16, 4)
    srv = BlazeSparkServer({"traindocs": tdocs}, spark)
    srv.start(port=0)
    try:
        rt = data(f"blaze://127.0.0.1:{srv.port}::traindocs",
                  spark=spark)
        r = tokenizer_stats(rt, tokenizer=vt)
        remote = sorted(map(tuple,
                            r.compute().itertuples(index=False)))
        local = sorted(map(tuple,
                           tokenizer_stats(tdocs, tokenizer=vt)
                           .collect()))
        assert remote == local
    finally:
        srv.stop()


# --- SentencePiece .model import (r14, VERDICT r13 missing #3) -------


def _sp_encode(pieces, model_type=None, norm_name=None):
    """An INDEPENDENT protobuf wire-format encoder for building test
    fixtures (the parser under test must agree with the documented
    format, not with itself): pieces = [(text, score, type), ...]."""
    import struct

    def varint(v):
        out = b""
        while True:
            b7 = v & 0x7F
            v >>= 7
            if v:
                out += bytes([b7 | 0x80])
            else:
                return out + bytes([b7])

    def ld(field, payload):
        return varint((field << 3) | 2) + varint(len(payload)) + payload

    def f32(field, value):
        return varint((field << 3) | 5) + struct.pack("<f", value)

    def vi(field, value):
        return varint((field << 3) | 0) + varint(value)

    buf = b""
    for text, score, ptype in pieces:
        sub = ld(1, text.encode("utf-8")) + f32(2, score)
        if ptype is not None:
            sub += vi(3, ptype)
        buf += ld(1, sub)
    if model_type is not None:
        buf += ld(2, vi(3, model_type))
    if norm_name is not None:
        buf += ld(3, ld(1, norm_name.encode()))
    return buf


def test_sentencepiece_model_import(tmp_path):
    """A hand-encoded ModelProto loads into the exact equivalent
    UnigramTokenizer: ▁-marker space detected, UNKNOWN piece's score
    becomes unk_logp, CONTROL/BYTE pieces skipped, and segmentation
    matches the directly-built tokenizer byte-for-byte."""
    p = tmp_path / "sp.model"
    p.write_bytes(_sp_encode([
        ("<unk>", -7.5, 2),          # UNKNOWN -> unk_logp
        ("<s>", 0.0, 3),             # CONTROL -> skipped
        ("</s>", 0.0, 3),
        ("▁the", -1.0, None),        # type absent = NORMAL default
        ("▁cat", -2.0, 1),
        ("▁c", -3.0, 1),
        ("at", -2.5, 1),
        ("<0x41>", -10.0, 6),        # BYTE -> skipped
        ("▁", -4.0, 1),
    ], model_type=1, norm_name="nmt_nfkc"))
    tok = UnigramTokenizer.from_sentencepiece(str(p))
    assert tok.space_marker == "▁"
    assert tok.unk_logp == -7.5
    assert not tok.lowercase
    assert "<s>" not in tok.vocab and "<0x41>" not in tok.vocab
    want = UnigramTokenizer(
        {"▁the": -1.0, "▁cat": -2.0, "▁c": -3.0, "at": -2.5,
         "▁": -4.0}, unk_logp=-7.5, space_marker="▁")
    assert tok.vocab == want.vocab
    for w in ("the", "cat", "the cat", "dog"):
        assert (UnigramTokenizer._apply_word(
                    "▁" + w, tok.vocab, tok.unk_logp,
                    tok.max_piece_len)
                == UnigramTokenizer._apply_word(
                    "▁" + w, want.vocab, want.unk_logp,
                    want.max_piece_len))
    # the wire roundtrip preserves an SP-loaded tokenizer exactly
    from blaze_spark.pipeline.tokenizer import tokenizer_from_wire

    back = tokenizer_from_wire(tok.to_wire())
    assert back.vocab == tok.vocab
    assert back.space_marker == "▁" and back.unk_logp == -7.5


def test_sentencepiece_hf_json_parity(tmp_path):
    """The same Unigram model through the SP .model path and the HF
    tokenizer.json path yields identical tokenizers — the two public
    serializations of one artifact family agree."""
    import json

    vocab = [["<unk>", -9.0], ["▁hello", -1.0], ["▁world", -1.5],
             ["▁h", -3.0], ["ello", -2.0]]
    j = tmp_path / "tokenizer.json"
    j.write_text(json.dumps({
        "model": {"type": "Unigram", "vocab": vocab, "unk_id": 0}}))
    m = tmp_path / "sp.model"
    m.write_bytes(_sp_encode(
        [("<unk>", -9.0, 2)] + [(t, s, 1) for t, s in vocab[1:]],
        model_type=1))
    a = UnigramTokenizer.from_tokenizer_json(str(j))
    b = UnigramTokenizer.from_sentencepiece(str(m))
    assert a.vocab == b.vocab
    assert a.unk_logp == b.unk_logp
    assert a.space_marker == b.space_marker == "▁"
    assert a.lowercase == b.lowercase is False


def test_sentencepiece_guards_and_normalizer(tmp_path):
    """BPE model_type raises with a pointer to the right importer;
    truncated bytes raise a loud not-a-model error; a `_cf`
    normalizer (NFKC + case folding) sets lowercase."""
    import pytest as _pytest

    bpe = tmp_path / "bpe.model"
    bpe.write_bytes(_sp_encode([("a", -1.0, 1)], model_type=2))
    with _pytest.raises(ValueError, match="BPE"):
        UnigramTokenizer.from_sentencepiece(str(bpe))

    junk = tmp_path / "junk.model"
    junk.write_bytes(b"\x0a\xff\xff\xff\xff\x7fhello")
    with _pytest.raises(ValueError, match="SentencePiece"):
        UnigramTokenizer.from_sentencepiece(str(junk))

    empty = tmp_path / "empty.model"
    empty.write_bytes(_sp_encode([("<s>", 0.0, 3)], model_type=1))
    with _pytest.raises(ValueError, match="no NORMAL"):
        UnigramTokenizer.from_sentencepiece(str(empty))

    cf = tmp_path / "cf.model"
    cf.write_bytes(_sp_encode([("▁a", -1.0, 1)], model_type=1,
                              norm_name="nmt_nfkc_cf"))
    assert UnigramTokenizer.from_sentencepiece(str(cf)).lowercase
    assert not UnigramTokenizer.from_sentencepiece(
        str(cf), lowercase=False).lowercase


def test_sentencepiece_bpe_import(tmp_path):
    """SP-BPE .model loads by RECONSTRUCTING the merge list (file
    order = merge order; best split by lowest component ranks — the
    public extractor's algorithm) and applies in ▁-marker space, so a
    hand-built artifact segments exactly like the equivalent
    directly-built marker BPETokenizer."""
    from blaze_spark.pipeline import BPETokenizer

    # alphabet + merges in creation order: (▁,t)->▁t, (▁t,he)->▁the
    # needs he first: (h,e)->he
    p = tmp_path / "bpe.model"
    p.write_bytes(_sp_encode([
        ("<unk>", 0.0, 2),
        ("▁", -1.0, 1), ("t", -2.0, 1), ("h", -3.0, 1),
        ("e", -4.0, 1), ("c", -5.0, 1), ("a", -6.0, 1),
        ("he", -7.0, 1),       # merge 0: (h, e)
        ("▁t", -8.0, 1),       # merge 1: (▁, t)
        ("▁the", -9.0, 1),     # merge 2: (▁t, he)
        ("at", -10.0, 1),      # merge 3: (a, t)
        ("<s>", 0.0, 3),
    ], model_type=2))
    tok = BPETokenizer.from_sentencepiece(str(p))
    assert tok.space_marker == "▁" and not tok.byte_level
    assert tok.merges == [("h", "e"), ("▁", "t"), ("▁t", "he"),
                          ("a", "t")]
    ranks = {m: i for i, m in enumerate(tok.merges)}
    assert BPETokenizer._apply_word("▁the", ranks) == ["▁the"]
    assert BPETokenizer._apply_word("▁cat", ranks) == ["▁", "c", "at"]
    # wire roundtrip keeps the marker
    from blaze_spark.pipeline.tokenizer import tokenizer_from_wire

    back = tokenizer_from_wire(tok.to_wire())
    assert back.merges == tok.merges
    assert back.space_marker == "▁"
    # cross-importer redirects name the right entry point
    import pytest as _pytest

    from blaze_spark.pipeline import UnigramTokenizer

    with _pytest.raises(ValueError, match="BPETokenizer"):
        UnigramTokenizer.from_sentencepiece(str(p))
    uni = tmp_path / "uni.model"
    uni.write_bytes(_sp_encode([("▁a", -1.0, 1)], model_type=1))
    with _pytest.raises(ValueError, match="UnigramTokenizer"):
        BPETokenizer.from_sentencepiece(str(uni))
    with _pytest.raises(ValueError, match="mutually exclusive"):
        BPETokenizer([("a", "b")], byte_level=True, space_marker="▁")


def test_sp_bpe_marker_apply_and_detokenize(spark, tmp_path):
    """The marker-space BPE applies through the Spark UDF path
    (pieces + n_tokens) and detokenize is exactly invertible — the
    Unigram marker scheme on the BPE family."""
    from pyspark.sql import functions as F

    from blaze_spark import data
    from blaze_spark.pipeline import BPETokenizer

    tok = BPETokenizer([("h", "e"), ("▁", "t"), ("▁t", "he"),
                        ("a", "t")], space_marker="▁")
    t = data([(0, "the cat"), (1, "that"), (2, None)],
             spark=spark, schema="doc_id long, text string",
             name="spbpe_docs")
    rows = {r.doc_id: (r.p, r.n) for r in t.df.select(
        "doc_id", tok.pieces(F.col("text")).alias("p"),
        tok.n_tokens(F.col("text")).alias("n")).collect()}
    assert rows[0] == (["▁the", "▁", "c", "at"], 4)
    assert rows[1] == (["▁t", "h", "at"], 3)
    assert rows[2] == ([], 0)
    got = (t.df.filter("doc_id = 0")
           .select(tok.detokenize(tok.pieces(F.col("text")))
                   .alias("back")).collect()[0].back)
    assert got == "the cat"


def test_sp_bpe_roundtrip_through_trained_tokenizer(spark, tmp_path):
    """Behavioral roundtrip: a tokenizer TRAINED here, exported as a
    SentencePiece-shaped piece table (alphabet + merged symbols in
    merge order — exactly how SP-BPE serializes), re-imported through
    from_sentencepiece, segments every training word identically.
    Pins the merge-reconstruction algorithm against a real trained
    artifact rather than only hand-built fixtures."""
    from blaze_spark import data
    from blaze_spark.pipeline import BPETokenizer, train_bpe

    rows = [(i, t) for i, t in enumerate(
        ["low lower lowest", "new newer newest", "wide wider widest",
         "low low low new new wide", "newest lowest widest"] * 4)]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="spbpe_rt")
    trained = train_bpe(t, num_merges=25, min_pair_count=1)
    # SP-BPE serialization shape: alphabet first, then each merged
    # symbol in merge creation order
    alphabet = sorted({c for _, txt in rows for w in txt.split()
                       for c in w})
    pieces = [("<unk>", 0.0, 2)]
    pieces += [(c, -1.0 * i, 1) for i, c in enumerate(alphabet)]
    base = len(alphabet)
    pieces += [(a + b, -1.0 * (base + i), 1)
               for i, (a, b) in enumerate(trained.merges)]
    p = tmp_path / "trained.model"
    p.write_bytes(_sp_encode(pieces, model_type=2))
    back = BPETokenizer.from_sentencepiece(str(p))
    ranks_a = {m: i for i, m in enumerate(trained.merges)}
    ranks_b = {m: i for i, m in enumerate(back.merges)}
    words = sorted({w for _, txt in rows for w in txt.split()})
    for w in words:
        assert (BPETokenizer._apply_word(w, ranks_a)
                == BPETokenizer._apply_word(w, ranks_b)), w


def test_sentencepiece_export_roundtrips(spark, tmp_path):
    """r14 second half: to_sentencepiece is the import's inverse —
    Unigram and BPE models roundtrip through a real .model file with
    identical vocab/merges/marker/lowercase; byte-level BPE refuses
    (SP has no byte mode)."""
    import pytest as _pytest

    from blaze_spark.pipeline import BPETokenizer, UnigramTokenizer

    uni = UnigramTokenizer(
        {"▁the": -1.0, "▁cat": -2.0, "▁c": -3.0, "at": -2.5,
         "▁": -4.0}, unk_logp=-7.5, space_marker="▁",
        lowercase=True)
    p = tmp_path / "uni.model"
    uni.to_sentencepiece(str(p))
    back = UnigramTokenizer.from_sentencepiece(str(p))
    assert back.vocab == uni.vocab
    assert back.unk_logp == uni.unk_logp
    assert back.space_marker == "▁"
    assert back.lowercase is True

    bpe = BPETokenizer([("h", "e"), ("▁", "t"), ("▁t", "he"),
                        ("a", "t")], space_marker="▁")
    p2 = tmp_path / "bpe.model"
    bpe.to_sentencepiece(str(p2))
    back2 = BPETokenizer.from_sentencepiece(str(p2))
    # reconstruction may pick a different (equivalent) split for a
    # merged piece; the behavioral contract is identical segmentation
    ra = {m: i for i, m in enumerate(bpe.merges)}
    rb = {m: i for i, m in enumerate(back2.merges)}
    for w in ("▁the", "▁that", "▁cat", "▁he", "▁tthe"):
        assert (BPETokenizer._apply_word(w, ra)
                == BPETokenizer._apply_word(w, rb)), w
    assert back2.space_marker == "▁"

    gpt2 = BPETokenizer([("a", "b")], byte_level=True)
    with _pytest.raises(ValueError, match="byte-level"):
        gpt2.to_sentencepiece(str(tmp_path / "nope.model"))

    # a TRAINED unigram model round-trips too (train → export →
    # import → identical Viterbi segmentation)
    from blaze_spark import data
    from blaze_spark.pipeline import train_unigram

    rows = [(i, "hello world hold held") for i in range(8)]
    t = data(rows, spark=spark, schema="doc_id long, text string",
             name="sp_export_docs")
    trained = train_unigram(t, vocab_size=30)
    p3 = tmp_path / "trained_uni.model"
    trained.to_sentencepiece(str(p3))
    back3 = UnigramTokenizer.from_sentencepiece(str(p3))
    for w in ("hello", "world", "hold", "held", "helheld"):
        assert (UnigramTokenizer._apply_word(
                    trained.space_marker + w, trained.vocab,
                    trained.unk_logp, trained.max_piece_len)
                == UnigramTokenizer._apply_word(
                    back3.space_marker + w, back3.vocab,
                    back3.unk_logp, back3.max_piece_len))


def test_sentencepiece_bpe_merge_rank_restriction(tmp_path):
    """r15 (ADVICE): a merge at training step t can only combine
    symbols that already existed BEFORE t, so the reconstructor must
    skip candidate splits whose component rank is >= the merged
    piece's rank.  A vocab where a component symbol appears AFTER the
    merged symbol must not yield that impossible merge pair."""
    import pytest as _pytest

    from blaze_spark.pipeline import BPETokenizer

    # 'hello' (rank 3) could split as (he, llo) — but 'llo' has rank
    # 4 > 3, so that merge could not have existed at step 3; with no
    # other in-vocab split, 'hello' contributes NO merge at all.
    p = tmp_path / "late.model"
    p.write_bytes(_sp_encode([
        ("h", -1.0, 1), ("e", -2.0, 1),
        ("he", -3.0, 1),        # merge 0: (h, e)
        ("hello", -4.0, 1),     # no valid split -> no merge
        ("llo", -5.0, 1),       # appears AFTER 'hello'
    ], model_type=2))
    tok = BPETokenizer.from_sentencepiece(str(p))
    assert tok.merges == [("h", "e")]
    assert ("he", "llo") not in tok.merges
    # sanity: the valid-order twin DOES reconstruct the merge
    p2 = tmp_path / "early.model"
    p2.write_bytes(_sp_encode([
        ("h", -1.0, 1), ("e", -2.0, 1), ("l", -2.5, 1),
        ("o", -2.7, 1),
        ("he", -3.0, 1), ("lo", -3.2, 1), ("llo", -3.5, 1),
        ("hello", -4.0, 1),
    ], model_type=2))
    tok2 = BPETokenizer.from_sentencepiece(str(p2))
    assert ("he", "llo") in tok2.merges

    # r15 (ADVICE): a >64-bit varint inside the file raises the
    # WRAPPED not-a-model error carrying the file path, not a bare
    # 'varint longer than 64 bits'
    bad = tmp_path / "longvarint.model"
    bad.write_bytes(b"\x08" + b"\xff" * 10 + b"\x01")
    with _pytest.raises(ValueError, match="SentencePiece"):
        BPETokenizer.from_sentencepiece(str(bad))
    with _pytest.raises(ValueError, match="longvarint"):
        BPETokenizer.from_sentencepiece(str(bad))
