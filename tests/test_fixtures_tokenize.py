import numpy as np
import pytest

from quicker_spark.fixtures import (
    corpus_df,
    corpus_pdf,
    edge_corpus_pdf,
    generate_batch,
)
from quicker_spark.functions.tokenize import tokenize_col, tokenize_py


def test_corpus_deterministic_and_batch_independent():
    a = corpus_pdf(50)
    b = corpus_pdf(50)
    assert a.equals(b)
    # value of row i must not depend on batch boundaries
    lo = generate_batch(np.arange(0, 25))
    hi = generate_batch(np.arange(25, 50))
    import pandas as pd

    c = pd.concat([lo, hi], ignore_index=True)
    assert a.equals(c)


def test_corpus_schema_and_shape():
    pdf = corpus_pdf(30)
    assert list(pdf.columns) == ["repo", "path", "commit", "lang", "content"]
    assert pdf["commit"].str.len().eq(40).all()
    assert pdf["lang"].isin(["python", "go", "java", "js", "rust", "c"]).all()
    # uniqueness of doc identity
    assert not pdf.duplicated(["repo", "path", "commit"]).any()
    # unique singleton token present
    assert pdf["content"].iloc[7].endswith("uniq_7")


def test_hot_tokens_are_skewed():
    pdf = corpus_pdf(300)
    hot = pdf["content"].str.contains(r"\bdef\b").mean()
    assert hot > 0.3  # FIXTURES.md: hot tokens in >30% of docs


@pytest.mark.usefixtures("spark")
def test_corpus_df_matches_pdf_regardless_of_partitioning(spark):
    pdf = corpus_pdf(80)
    for parts in (1, 7):
        got = (
            corpus_df(spark, 80, partitions=parts)
            .orderBy("repo", "path", "commit")
            .toPandas()
        )
        want = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
        assert got.equals(want)


def test_tokenize_py_spec():
    assert tokenize_py("Def foo(x_1, y):  return x_1+y") == [
        "def", "foo", "x_1", "y", "return", "x_1", "y",
    ]
    assert tokenize_py("") == []
    assert tokenize_py(None) == []


def test_tokenizers_agree(spark):
    """doc_len comes from the Catalyst tokenize_col, term frequencies from
    the pandas findall in batch_doc_term_tfs; both must equal tokenize_py
    on every row of a corpus plus the edge strings (empty, whitespace,
    unicode, mixed case, NULL)."""
    from collections import Counter

    import pandas as pd
    from pyspark.sql import functions as F

    from quicker_spark.functions.tokenize import TOKEN_RE, batch_doc_term_tfs

    texts = (corpus_pdf(40)["content"].tolist()
             + edge_corpus_pdf()["content"].tolist()
             + ["İstanbul ǅemal ﬁle ＡＢＣ x１ \u212aelvin"])
    assert None in texts
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, content string")
    catalyst = {r["i"]: r["a"] for r in df.select(
        "i", tokenize_col(F.coalesce(F.col("content"), F.lit("")))
        .alias("a")).collect()}
    col = pd.Series(texts, dtype=object)
    found = col.fillna("").str.lower().str.findall(TOKEN_RE)
    didx, terms, tfs = batch_doc_term_tfs(("content",), [col])
    counted = {i: Counter() for i in range(len(texts))}
    for d, t, n in zip(didx, terms, tfs):
        counted[int(d)][t.split("\x01", 1)[1]] = int(n)
    for i, text in enumerate(texts):
        want = tokenize_py(text)
        assert catalyst[i] == want, text
        assert found[i] == want, text
        assert counted[i] == Counter(want), text


def test_edge_corpus_postings_match_oracle(spark, tmp_path,
                                           postings_match_oracle):
    """One build of the edge corpus (empty / whitespace / unicode / NULL
    content, NULL and empty lang) decodes to exactly the Oracle's
    postings."""
    from quicker_spark.operators.build import IndexConfig, build_index
    from quicker_spark.oracle import Oracle

    pdf = edge_corpus_pdf()
    corpus = spark.createDataFrame(
        pdf, "repo string, path string, commit string, lang string, "
             "content string")
    out = str(tmp_path / "idx")
    build_index(spark, corpus, out, IndexConfig(seg_docs=4), resume=False)
    assert postings_match_oracle(out, Oracle(pdf)) > 10
    terms = {r["term"] for r in
             spark.read.parquet(out + "/postings").select("term").collect()}
    # NULL lang didn't kill the doc's content terms, and no empty lang term
    assert "content\x01indexed" in terms
    assert "lang\x01" not in terms
    # NULL content doc still indexes its repo/path fields
    assert "repo\x01r9" in terms
