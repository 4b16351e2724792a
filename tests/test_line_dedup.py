"""Cross-document boilerplate line removal (textops.remove_repeated_lines):
pure-Python reference parity, DuckDB cross-engine parity (the board
oracle's SQL shape), scoping, and edge cases."""
import re

import duckdb
import pandas as pd
import pytest

from irivermetrics_offpaper.operators import textops

TRIM = re.compile(r"^[ \t\f\x0b\r]+|[ \t\f\x0b\r]+$")


def _ref_drop_all(texts: dict, min_df: int) -> dict:
    lines = {k: re.split(r"\r?\n", t) for k, t in texts.items()}
    df_count = {}
    for k, ls in lines.items():
        for n in {TRIM.sub("", l) for l in ls if TRIM.sub("", l) != ""}:
            df_count[n] = df_count.get(n, 0) + 1
    banned = {n for n, c in df_count.items() if c >= min_df}
    out = {}
    for k, ls in lines.items():
        kept = [l for l in ls if TRIM.sub("", l) == "" or TRIM.sub("", l) not in banned]
        out[k] = ("\n".join(kept), len(ls) - len(kept))
    return out


CORPUS = {
    1: "nav menu\r\nunique alpha\n\nfooter 2024",
    2: "  nav menu\t\nunique beta\nfooter 2024",
    3: "nav menu\nunique gamma\nunique gamma\nfooter 2024",
    4: "only original content here",
    5: "footer 2024",
}


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": list(CORPUS), "text": list(CORPUS.values()),
                      "source": ["a", "a", "b", "b", "b"]}))


def test_drop_all_matches_reference(spark, docs):
    out = {r["doc_id"]: (r["text"], r["lines_removed"])
           for r in textops.remove_repeated_lines(docs, min_df=3).collect()}
    assert out == _ref_drop_all(CORPUS, 3)
    # the padded/CRLF variants of "nav menu" all matched (df=3), the
    # footer (df=4) went with them, and the within-doc duplicate
    # "unique gamma" (df=1) survived
    assert out[2][0] == "unique beta"
    assert out[3][0] == "unique gamma\nunique gamma"
    assert out[1] == ("unique alpha\n", 2)  # blank line preserved


def test_drop_all_min_df_boundary(spark, docs):
    out = {r["doc_id"]: r["text"]
           for r in textops.remove_repeated_lines(docs, min_df=5).collect()}
    # nothing reaches df=5: corpus unchanged up to CRLF->LF + no trims
    assert out[3] == CORPUS[3]
    assert out[1] == CORPUS[1].replace("\r\n", "\n")


def test_keep_first_semantics(spark, docs):
    out = {r["doc_id"]: r["text"]
           for r in textops.remove_repeated_lines(docs, mode="keep_first").collect()}
    # first occurrence ordered by (doc_id, pos): doc 1 keeps "nav menu"
    # and "footer 2024"; later docs lose them; within-doc dup collapses
    assert out[1] == CORPUS[1].replace("\r\n", "\n")
    assert out[2] == "unique beta"
    assert out[3] == "unique gamma"
    assert out[5] == ""


def test_scope_col_limits_the_ban(spark, docs):
    # per-source: "nav menu" has df=2 in source a, df=1 in source b
    out = {r["doc_id"]: r["text"]
           for r in textops.remove_repeated_lines(docs, min_df=2, scope_col="source").collect()}
    assert "nav menu" not in out[1] and "nav menu" not in out[2]
    assert out[3].startswith("nav menu")  # survives in source b
    # footer: df=2 in b (docs 3,5) -> banned there; df=2 in a -> banned
    assert "footer" not in out[3] and out[5] == ""


def test_bad_args(spark, docs):
    with pytest.raises(ValueError):
        textops.remove_repeated_lines(docs, mode="nope")
    with pytest.raises(ValueError):
        textops.remove_repeated_lines(docs, min_df=1)


def test_duckdb_parity_on_generated_corpus(spark):
    """The board-entry shape: synthetic multi-line docs built in-query
    from the testdata documents table, deduped by the production
    operator, compared row-for-row against the same pipeline written
    in DuckDB SQL (RE2 trim class, string_agg rebuild)."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet")
    built = d.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.concat_ws(
            "\n",
            F.concat(F.lit("nav "), F.col("source")),
            F.substring(F.col("text"), 1, 60),
            F.lit("subscribe footer"),
            F.concat(F.lit("id "), F.col("doc_id").cast("string"))).alias("text"))
    got = (textops.remove_repeated_lines(built, min_df=5)
           .select("doc_id", "text", "lines_removed")
           .orderBy("doc_id").toPandas())

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = con.sql(r"""
        WITH built AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 'nav ' || source || chr(10) || substr(text, 1, 60) || chr(10)
                 || 'subscribe footer' || chr(10) || 'id ' || CAST(doc_id AS VARCHAR) AS text
          FROM documents
        ), lines AS (
          SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS line
          FROM (SELECT doc_id, regexp_split_to_array(text, '\r?\n') AS l FROM built)
        ), norm AS (
          SELECT doc_id, pos, line,
                 regexp_replace(regexp_replace(line, '^[ \t\f\v\r]+', ''),
                                '[ \t\f\v\r]+$', '') AS nline
          FROM lines
        ), banned AS (
          SELECT nline FROM norm WHERE nline <> ''
          GROUP BY nline HAVING count(DISTINCT doc_id) >= 5
        ), kept AS (
          SELECT n.doc_id, n.pos, n.line FROM norm n
          ANTI JOIN banned b ON n.nline = b.nline
        ), rebuilt AS (
          SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT b.doc_id, coalesce(r.text, '') AS text,
               CAST(len(regexp_split_to_array(b.text, '\r?\n'))
                    - coalesce(r.n_kept, 0) AS INT) AS lines_removed
        FROM built b LEFT JOIN rebuilt r USING (doc_id)
        ORDER BY doc_id
    """).df()
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))
    # non-vacuous: every row lost the two injected boilerplate lines
    assert (got["lines_removed"] >= 2).all()
    assert got["text"].str.contains("id ").all()


def test_null_scope_rows_still_ban(spark):
    """docs with a NULL scope form their own scope slice: boilerplate
    repeated inside that slice must still be removed (a plain anti-join
    never matches NULL keys — review find)."""
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "source": pd.array([None, None, "a"], dtype="string"),
        "text": ["spam line\nkeep one", "spam line\nkeep two", "spam line\nkeep three"],
    })
    df = spark.createDataFrame(pdf)
    out = {r["doc_id"]: r["text"]
           for r in textops.remove_repeated_lines(df, min_df=2, scope_col="source").collect()}
    assert out[1] == "keep one" and out[2] == "keep two"
    assert out[3] == "spam line\nkeep three"  # df=1 within scope "a"
