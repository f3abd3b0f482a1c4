"""validator_columns / checksum_candidates relational operators."""

from __future__ import annotations

import pytest

from safe_zone_spark.crossing import text_udf
from safe_zone_spark.operators.validate import checksum_candidates, validator_columns


@pytest.fixture(scope="module")
def vdf(spark):
    rows = [
        (0, '{"a": 1}'),
        (1, "<r><x/></r>"),
        (2, "user@example.com"),
        (3, "123456"),
        (4, "abc123"),
        (5, "not json <or xml"),
        (6, "card 4111 1111 1111 1111 ok"),          # Luhn-valid
        (7, "card 1234 5678 9012 3456 nope"),        # Luhn-invalid
        (8, "id 10000000146 here"),                  # TCKN-valid
        (9, "id 10000000145 here"),                  # fails TCKN regex (odd last digit)
        (10, "id 12345678902 x"),                    # matches regex, bad checksum
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_validator_columns(spark, vdf):
    out = {r["doc_id"]: r.asDict() for r in validator_columns(vdf).collect()}
    assert out[0]["json_ok"] and not out[0]["xml_ok"]
    assert out[1]["xml_ok"] and not out[1]["json_ok"]
    assert out[2]["email_ok"] and not out[2]["numeric_ok"]
    assert out[3]["numeric_ok"] and out[3]["alnum_ok"] and out[3]["json_ok"]  # JSON number
    assert out[4]["alnum_ok"] and not out[4]["numeric_ok"]
    assert not out[5]["json_ok"] and not out[5]["xml_ok"]


def test_checksum_candidates(spark, vdf):
    out = {r["doc_id"]: r.asDict() for r in checksum_candidates(vdf).collect()}
    assert out[6]["luhn_ok"] and out[6]["card_candidate"].startswith("4111")
    assert not out[7]["luhn_ok"] and out[7]["card_candidate"] is not None
    assert out[8]["tckn_ok"] and out[8]["tckn_candidate"] == "10000000146"
    assert out[9]["tckn_candidate"] is None and not out[9]["tckn_ok"]
    assert out[10]["tckn_candidate"] == "12345678902" and not out[10]["tckn_ok"]
    assert out[0]["card_candidate"] is None and not out[0]["luhn_ok"]


def test_winnowing_shared_substring_guarantee(spark):
    """Any shared substring of length >= k + window - 1 (= 11) must yield
    at least one shared fingerprint; disjoint texts share none."""
    from safe_zone_spark.functions.text_analysis import winnowing_expr

    shared = "UNIQUESHAREDSEGMENT"  # 19 chars >= 11
    rows = [
        (0, f"aaaa {shared} bbbb"),
        (1, f"cccc dddd {shared}"),
        (2, "totally unrelated content xyz"),
        (3, "shrt"),  # shorter than k -> empty fingerprint set
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["doc_id"]: set(r["w"]) for r in
          df.select("doc_id", winnowing_expr("text").alias("w")).collect()}
    assert fp[0] & fp[1]
    assert not (fp[0] & fp[2])
    assert fp[3] == set()


def test_schema_validator_twin_edge_cases():
    """JSON_PERSON engine vs the driver's DuckDB twin on the draft-specific
    edges — notably jsonschema's 'integer' accepting 7.0 (zero fractional
    part) while json_type reports DOUBLE."""
    import duckdb

    import __spark_entry__ as entry
    from safe_zone_spark.rules import default_rules
    from safe_zone_spark.validators import validate_format

    rules = default_rules()
    cases = [
        '{"name": "a", "age": 7}', '{"name": "a", "age": 7.0}',
        '{"name": "a", "age": 7.5}', '{"name": "a", "age": "7"}',
        '{"name": 5, "age": 7}', '{"age": 7}', '[1,2]', 'nope',
        '{"name":"a","age":7,"x":1}', '{"name": "a", "age": -3}', '',
    ]
    sql = entry.oracle_sql()["schema_validator"]
    expr = sql.rsplit("SELECT doc_id,", 1)[1].rsplit("FROM aug", 1)[0]
    con = duckdb.connect()
    for c in cases:
        v, err = validate_format(c, "JSON_PERSON", rules)
        py = bool(v) and err is None
        lit = "'" + c.replace("'", "''") + "'"
        dk = con.sql("SELECT " + expr.replace("text", lit)).fetchone()[0]
        assert py == dk, c


def test_poly_gram_hash_contract(spark):
    """THE hash contract behind winnowing + CDC dedup: the numpy batch fast
    path, the Catalyst Horner expression, the DuckDB SQL sum form, and a
    pure-Python reference all produce bit-identical int64 gram hashes —
    including non-ASCII code points, NULs, empty and sub-k strings."""
    import duckdb
    import pyspark.sql.functions as F

    from safe_zone_spark.functions.text_analysis import (
        POLY_BASE,
        POLY_MOD,
        codepoints_sql,
        gram_hashes_batch,
        poly_gram_hashes_expr,
        poly_gram_sum_sql,
        winnow_fingerprints,
        winnowing_expr,
    )

    texts = ["hello world gram test", "", "shrt", "éclair € ünïcode",
             "\x00lead nul kept significant", "a" * 20]
    k = 8

    def ref(t):
        return [
            sum(ord(t[i + j]) * pow(POLY_BASE, k - 1 - j, POLY_MOD) for j in range(k))
            % POLY_MOD
            for i in range(len(t) - k + 1)
        ]

    expected = [ref(t) for t in texts]
    assert [list(h) for h in gram_hashes_batch(texts, k)] == expected

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, ?)" for i in range(len(texts)))
        + ") t(doc_id, text)",
        texts,
    )
    got_sql = con.execute(
        f"WITH cp AS (SELECT doc_id, length(text) AS n, {codepoints_sql()} AS c FROM d) "
        f"SELECT doc_id, CASE WHEN n - {k - 1} < 1 THEN [] ELSE "
        f"list_transform(range(1, n - {k - 1} + 1), i -> {poly_gram_sum_sql(k)}) END "
        f"FROM cp ORDER BY doc_id"
    ).fetchall()
    assert [[int(x) for x in g] for _, g in got_sql] == expected

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = df.select(
        "doc_id",
        poly_gram_hashes_expr("text", k=k).alias("g"),
        text_udf(winnow_fingerprints, "string")(F.col("text")).alias("u"),
        F.concat_ws(",", winnowing_expr("text")).alias("e"),
    ).collect()
    for r in rows:
        assert list(r["g"]) == expected[r["doc_id"]]
        # the one-crossing UDF fast path == the pure-Catalyst winnowing twin
        assert r["u"] == r["e"]


def test_cdc_chunks_partition_exactly(spark):
    """cdc_chunks output must PARTITION each doc: ordered concat of all
    chunks is byte-identical to the input (the rebuild-correctness
    precondition), and boundaries are content-defined (a shared span at two
    offsets yields identical interior chunks)."""
    import pyspark.sql.functions as F

    from safe_zone_spark.operators.dedup import cdc_chunks

    # "hot keg fox fig " is a verified boundary gram (hash % 64 == 0), so
    # the shared passage is GUARANTEED interior boundaries at any offset —
    # no reliance on content luck
    shared = ("hot keg fox fig and a very long shared passage that "
              "content-defined chunking must split identically " * 4)
    rows = [(0, "X" + shared), (1, "a different, longer prefix! " + shared),
            (2, "short"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ch = {r["doc_id"]: r["c"] for r in
          df.select("doc_id", text_udf(cdc_chunks, "array<string>")(F.col("text")).alias("c"))
          .collect()}
    for i, t in rows:
        assert "".join(ch[i]) == t
    assert set(ch[0][1:-1]) & set(ch[1][1:-1])  # shared interior chunks
