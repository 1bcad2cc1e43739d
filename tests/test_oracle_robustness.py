"""KG oracles must mirror the Spark operators' ACTUAL match semantics.

The original oracles assumed every relation sentence is sentence-initial and
unique per turn — true of the synthetic corpus, so a corpus whose document
bodies also contain relation text would have produced false harness
mismatches (review finding). These tests feed exactly that corpus through
both sides: Spark extractors vs the DuckDB oracle SQL over the same
``documents`` table."""

from __future__ import annotations

import duckdb
import pytest


@pytest.fixture()
def tricky_docs(spark, tmp_path):
    # body text contains relation sentences: mid-text occurrences, multiple
    # matches per turn, and turns with none
    rows = [
        (0, "plain filler without any relation"),
        (1, "prefix words entity_3 works_at ent-4 . suffix"),
        (2, "E.5 part_of E.6 . and then ent-7 located_in entity_8 . tail"),
        (3, "the el der le ties"),
        # non-ASCII digit and word chars: `entity_٣` is no alias in RE2's
        # (and therefore every kernel's) ASCII grammar
        (4, "digits entity_٣ works_at ent-2 . ça va"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
    return df, con


def _spark_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_extract_oracle_all_occurrences(spark, tricky_docs):
    docs, con = tricky_docs
    from nemo_spark.kg.extract import extract_triples_pandas
    from nemo_spark.kg.oracles import KG_EXTRACT
    from nemo_spark.kg.transcripts import transcripts_from_documents

    got = _spark_rows(extract_triples_pandas(transcripts_from_documents(docs)))
    want = sorted(tuple(r) for r in con.sql(KG_EXTRACT).fetchall())
    assert got == want
    # the interesting shape is present: transcripts plant one relation per
    # turn (5) and the doc bodies add 3 more occurrences — turns with
    # MULTIPLE matches are exercised
    assert len(got) == 8


def test_mentions_oracle_true_spans(spark, tricky_docs):
    docs, con = tricky_docs
    from nemo_spark.kg.extract import extract_mentions_pandas
    from nemo_spark.kg.oracles import KG_MENTIONS
    from nemo_spark.kg.transcripts import transcripts_from_documents

    got = _spark_rows(extract_mentions_pandas(transcripts_from_documents(docs)))
    want = sorted(tuple(r) for r in con.sql(KG_MENTIONS).fetchall())
    assert got == want
    # the mid-text match really starts past offset 0 (transcripts prepend a
    # planted relation sentence, so the doc-body occurrences sit mid-text)
    assert any(r[3] > 0 for r in got)


def test_linked_oracle_all_occurrences(spark, tricky_docs):
    docs, con = tricky_docs
    from nemo_spark.kg.extract import extract_triples_pandas
    from nemo_spark.kg.link import link_exact
    from nemo_spark.kg.oracles import KG_LINKED
    from nemo_spark.kg.transcripts import alias_dict, transcripts_from_documents

    ext = extract_triples_pandas(transcripts_from_documents(docs)).select(
        "conv_id", "turn_idx", "subj_alias"
    )
    got = _spark_rows(link_exact(ext, alias_dict(spark), mention_col="subj_alias"))
    want = sorted(tuple(r) for r in con.sql(KG_LINKED).fetchall())
    assert got == want


def test_link_scored_oracle_all_occurrences(spark, tricky_docs, tmp_path):
    """kg_link_scored links the subject alias of EVERY occurrence, so the
    mid-text aliases of doc 2 (E.5, ent-7) must be scored on both sides."""
    import __spark_entry__ as entry

    _, con = tricky_docs
    got = _spark_rows(entry.queries()["kg_link_scored"](spark, str(tmp_path)))
    want = sorted(tuple(r) for r in con.sql(entry.oracle_sql()["kg_link_scored"]).fetchall())
    assert got == want
    assert {"E.5", "ent-7"} <= {r[0] for r in got}
