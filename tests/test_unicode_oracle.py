"""Adversarial-text cross-engine parity: the driver's hash gate runs on
a friendly synthetic corpus — these tests re-run the SAME registered
oracle SQL against a Unicode-laced documents table (NBSP, emoji,
combining accents, Turkish dotted-I, ess-zett, full-width digits,
zero-width joiner, RTL, punctuation-only, megaword) and compare the
Spark builder's values to DuckDB's, using check_oracle's normalization.
If a gate only matches by corpus luck (ASCII-vs-Unicode regex classes,
locale-sensitive lower()), it fails here."""

from __future__ import annotations

import os

import pytest

from oxi_diel_db_spark.queries import load_registry
from tools.check_oracle import norm_val

NASTY = [
    (0, "the quick brown fox", "en", "src0", None),        # NBSP
    (1, "café café naïve", "fr", "src0", None),  # composed vs combining
    (2, "İstanbul Iı II ii", "tr", "src0", None),      # dotted/dotless I
    (3, "straße STRASSE groß", "de", "src0", None),    # ess-zett
    (4, "１２３ 123 ａｂ", "en", "src1", None),  # full-width
    (5, "emoji \U0001f600\U0001f9d1‍\U0001f4bb end", "en", "src1", None),  # ZWJ
    (6, "שלום world", "he", "src1", None),   # RTL
    (7, "!!! ... ;;; ???", "en", "src1", None),                  # punct-only
    (8, "a" * 5000, "en", "src2", None),                         # megaword
    (9, "tab\there\nnewline\rcarriage", "en", "src2", None),
    (10, "mixed ENG 中文 words рус", "en", "src2", None),
    (11, "", "en", "src2", None),                                # empty
]

# text-analysis + fingerprint gates whose oracles read only `documents`
GATES = [
    "t1_lang_id",
    "t2_quality_score",
    "t3_token_count",
    "t4_fingerprint",
    "d1_exact_dedup",
    "d4_simhash",
    "t5_tfidf_topterms",
    "t7_repetition_filters",
    "t9_chunking",
    # round-6 tokenizing queries
    "t12_gopher_rules",
    "t13_vocab_stats",
    "t14_bm25_search",
    "p13_curriculum_interleave",
    "p14_length_matching",
    # round-7 tokenizing queries
    "t15_keyword_extraction",
    "t16_pii_scrub",
    "p15_mixture_allocation",
    "t17_perplexity_filter",
    "p16_multimodal_packing",
    "p17_preference_pairs",
    "t19_vocab_growth",
    "t20_readability",
    "q118_explode_outer",
    "q120_regexp_family",
    "t21_script_profile",
    "c5_corpus_health",
]


def _hash_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_val(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def nasty_sf_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("nasty_sf"))
    docs = spark.createDataFrame(
        [(i, t, lg, src, len(t)) for i, t, lg, src, _ in NASTY],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


@pytest.mark.parametrize("name", GATES)
def test_gate_survives_unicode(spark, nasty_sf_dir, name):
    import duckdb

    reg = load_registry()
    qdef = reg[name]
    sdf = qdef.build(spark, nasty_sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{nasty_sf_dir}/documents.parquet/*.parquet')"
    )
    res = con.execute(qdef.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols)
    assert _hash_rows(spark_cols, spark_rows) == _hash_rows(duck_cols, duck_rows)


def test_t18_bpe_unicode_parity(spark, nasty_sf_dir):
    """t18 is rows-only (iterative — no SQL twin), so its Unicode
    check is full parity against the pure-Python reference on the
    NASTY corpus instead: Spark's split(w, '') walks CODEPOINTS
    (surrogate pairs stay intact — probed, not assumed) and lower()
    agrees with Python str.lower() on the dotted-I and ess-zett
    adversaries, so merge sequences must match exactly."""
    from collections import Counter

    from oxi_diel_db_spark.queries import load_registry

    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["freq"])
        for r in load_registry()["t18_bpe_merges"]
        .build(spark, nasty_sf_dir)
        .orderBy("rank")
        .collect()
    ]
    texts = (
        spark.read.parquet(os.path.join(nasty_sf_dir, "documents.parquet"))
        .select("text")
        .toPandas()["text"]
    )
    import re as _re

    # the engine tokenizes with Java-regex \s+ (ASCII whitespace only
    # — NBSP is NOT a separator, matching DuckDB's RE2 \s); the Python
    # reference must replicate that, not str.split()'s Unicode set
    wfreq = Counter()
    for txt in texts:
        if txt:
            for w in _re.split(r"[ \t\n\r\f\v]+", txt.lower()):
                if w:
                    wfreq[w] += 1
    vocab = {tuple(list(w) + ["</w>"]): f for w, f in wfreq.items()}
    want = []
    for rank in range(1, 11):
        stats = Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                stats[(a, b)] += f
        if not stats:
            break
        (l, r), pf = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, l, r, l + r, pf))
        new_vocab = {}
        for syms, f in vocab.items():
            out, pend = [], None
            for x in syms:
                if pend == l and x == r:
                    out.append(l + r)
                    pend = None
                else:
                    if pend is not None:
                        out.append(pend)
                    pend = x
            if pend is not None:
                out.append(pend)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    assert got == want
