"""Gopher + C4 named rule sets (operators/quality_rules): crafted
fixtures exercise each rule edge the word-soup oracle corpus cannot
(bullets, ellipses, contamination strings, boundary thresholds),
plus the zero-shuffle plan contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from parlerproject_spark.operators.quality_rules import (c4_line_filter,
                                                         gopher_quality_flags)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _flags(spark, text, **kw):
    [r] = gopher_quality_flags(_docs(spark, [(1, text)]), **kw).collect()
    return r


def test_gopher_passes_normal_prose(spark):
    text = ("the quick brown fox jumps over the lazy dog and that "
            "dog really ought to have known better with all of it " * 4)
    r = _flags(spark, text)
    assert r["keep"] is True
    assert r["stop_hits"] >= 2 and r["pass_alpha"]


def test_gopher_word_count_band(spark):
    r = _flags(spark, "too short to have fifty words of the and that")
    assert r["pass_words"] is False and r["keep"] is False


def test_gopher_bullet_and_ellipsis_shares(spark):
    bullets = "\n".join(f"- item {i} of the list and that" for i in range(10))
    r = _flags(spark, bullets, min_words=5)
    assert r["bullet_share"] == 1.0 and r["pass_bullets"] is False
    dots = "\n".join(f"line {i} of the doc trails off..." for i in range(10))
    r2 = _flags(spark, dots, min_words=5)
    assert r2["ellipsis_share"] == 1.0 and r2["pass_ellipsis"] is False


def test_gopher_symbol_ratio_and_alpha_share(spark):
    hashy = "the of " + "# " * 30
    r = _flags(spark, hashy, min_words=5)
    assert r["pass_symbols"] is False
    assert r["pass_alpha"] is False  # '#' words have no alphabetic char


def test_gopher_stop_word_rule(spark):
    r = _flags(spark, "colorless green ideas sleep furiously " * 20)
    assert r["stop_hits"] == 0 and r["pass_stops"] is False


def test_c4_line_rules(spark):
    doc = "\n".join([
        "This is a proper sentence with enough words.",   # keep
        "Short line.",                                    # < 5 words
        "no terminal punctuation on this line here",      # no punct
        "Please enable javascript to view this page.",    # contaminated
        "Lorem ipsum dolor sit amet consectetur elit.",   # lorem
        "function() { return 42; } and more words.",      # brace
        "Another good sentence that should survive here!",
        'He said "this quoted line ends properly."',
    ])
    out = c4_line_filter(_docs(spark, [(1, doc)]), min_lines=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_lines"] == 8 and r["n_kept"] == 3
    assert "javascript" not in r["clean_text"].lower()
    assert "lorem" not in r["clean_text"].lower()
    assert "{" not in r["clean_text"]


def test_c4_min_lines_drops_thin_docs(spark):
    thin = ("One single good sentence with enough words here.\n"
            "And another good sentence to go with it.")
    assert c4_line_filter(_docs(spark, [(1, thin)]),
                          min_lines=3).count() == 0
    assert c4_line_filter(_docs(spark, [(1, thin)]),
                          min_lines=2).count() == 1


def test_quality_rules_plans_have_no_shuffle(spark):
    d = _docs(spark, [(1, "a b c.\nd e f.")])
    for df in (gopher_quality_flags(d), c4_line_filter(d, min_lines=0)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


# Gopher repetition filters ------------------------------------------------

def _rep(spark, text, **kw):
    from parlerproject_spark.operators.quality_rules import (
        gopher_repetition_flags)
    [r] = gopher_repetition_flags(_docs(spark, [(1, text)]), **kw).collect()
    return r


def test_repetition_clean_doc_passes(spark):
    # long diverse prose: no repeated lines/paragraphs, and no single
    # n-gram covers enough chars to trip the top-ngram thresholds
    # (Gopher's limits assume real-document length — a 10-word doc
    # trips top2 at 0.20 arithmetically)
    words = [f"word{i:03d}" for i in range(120)]
    lines = [" ".join(words[i:i + 8]) for i in range(0, 120, 8)]
    text = "\n".join(lines[:8]) + "\n\n" + "\n".join(lines[8:])
    r = _rep(spark, text)
    assert r["dup_line_frac"] == 0.0
    assert r["dup_para_frac"] == 0.0
    assert r["top2gram_char_frac"] < 0.20
    assert r["keep"] is True


def test_repetition_duplicate_lines_counted(spark):
    # 4 lines, "same line" repeated 3x -> dup_line_frac = 2/4
    r = _rep(spark, "same line\nother text\nsame line\nsame line")
    assert abs(r["dup_line_frac"] - 0.5) < 1e-9
    assert r["pass_dup_line"] is False  # 0.5 > 0.30
    assert r["keep"] is False


def test_repetition_duplicate_paragraphs_counted(spark):
    # 3 paragraphs, one repeated -> dup_para_frac = 1/3
    r = _rep(spark, "para one here\n\npara two here\n\npara one here")
    assert abs(r["dup_para_frac"] - 1 / 3) < 1e-6
    assert r["pass_dup_para"] is False  # 1/3 > 0.30


def test_repetition_char_weighted_fraction(spark):
    # duplicate of a LONG line dominates by chars even though the
    # count fraction is the same
    long = "x" * 90
    r = _rep(spark, f"{long}\nab\n{long}")
    # counts: 1 dup of 3 lines = 0.333; chars: 90 / 182 = 0.4945
    assert abs(r["dup_line_frac"] - 1 / 3) < 1e-6
    assert abs(r["dup_line_char_frac"] - 90 / 182) < 1e-6
    assert r["pass_dup_line_chars"] is False


def test_repetition_top_ngram_coverage(spark):
    # "very good" repeated: top 2-gram covers most word chars
    text = "very good very good very good very good indeed"
    r = _rep(spark, text)
    # 2-gram "very good" count 4, chars 8; total word chars = 4*8+6=38
    assert abs(r["top2gram_char_frac"] - round(4 * 8 / 38, 6)) < 1e-9
    assert r["pass_top2"] is False  # 0.84 > 0.20
    assert r["keep"] is False


def test_repetition_short_doc_has_zero_ngram_fracs(spark):
    r = _rep(spark, "single")
    assert r["top2gram_char_frac"] == 0.0
    assert r["top3gram_char_frac"] == 0.0
    assert r["top4gram_char_frac"] == 0.0
    assert r["keep"] is True


def test_repetition_top_ngram_tie_breaks_lexicographically(spark):
    # "bb cc" and "aa dd" both occur once among 2-grams with equal
    # char length: the chosen top gram is deterministic (lexicographic)
    r1 = _rep(spark, "aa dd bb cc")
    r2 = _rep(spark, "aa dd bb cc")
    assert r1["top2gram_char_frac"] == r2["top2gram_char_frac"]


def test_repetition_lines_trim_spaces_and_drop_blanks(spark):
    # space-only lines vanish and trailing spaces are trimmed (SQL
    # trim semantics), so "pad line  " repeats "pad line": 1 dup of 2
    r = _rep(spark, "  \n  \npad line  \npad line")
    assert r["dup_line_frac"] == 0.5
    assert r["dup_line_char_frac"] == 0.5


class TestReadabilityScores:
    def _run(self, spark, texts):
        from parlerproject_spark.operators.quality_rules import (
            readability_scores)
        df = spark.createDataFrame(list(enumerate(texts)),
                                   "doc_id long, text string")
        return {r.doc_id: r for r in readability_scores(df).collect()}

    def test_hand_counts_and_formula(self, spark):
        out = self._run(spark, ["The cat sat. It ran!"])
        r = out[0]
        # vowel groups: e|a|a|i|a = 5; words 5; sentences 2
        assert (r.n_words, r.n_sentences, r.n_syllables) == (5, 2, 5)
        ease = 206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5)
        grade = 0.39 * (5 / 2) + 11.8 * (5 / 5) - 15.59
        assert abs(r.flesch_ease - round(ease, 6)) < 1e-9
        assert abs(r.fk_grade - round(grade, 6)) < 1e-9

    def test_zero_words_and_sentence_floor(self, spark):
        out = self._run(spark, ["", "no punctuation here"])
        assert out[0].flesch_ease is None and out[0].fk_grade is None
        assert out[1].n_sentences == 1      # floor keeps ratios defined
