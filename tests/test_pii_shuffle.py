"""redact_pii (typed-placeholder PII scrub + audit count).

A per-row deterministic contract: redaction must be exact on planted
PII, idempotent, and NULL-safe.
"""

import pytest
from pyspark.sql import functions as F

from simplepolygon_spark.operators.text import redact_pii


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- redact_pii


def test_redact_planted_pii(spark):
    d = _docs(
        spark,
        [
            (1, "mail bob.smith+x@ex-ample.com today"),
            (2, "call +1-555-0042 now"),
            (3, "host 10.0.3.7 is up"),
            (4, "clean text with no pii"),
        ],
    )
    out = {r["doc_id"]: r for r in redact_pii(d).collect()}
    assert out[1]["text_redacted"] == "mail <EMAIL> today"
    assert out[2]["text_redacted"] == "call <PHONE> now"
    assert out[3]["text_redacted"] == "host <IP> is up"
    assert out[4]["text_redacted"] == "clean text with no pii"
    assert [out[i]["n_pii"] for i in (1, 2, 3, 4)] == [1, 1, 1, 0]


def test_redact_multiple_and_mixed(spark):
    d = _docs(spark, [(1, "a@b.co and c@d.io via 1.2.3.4 dial +44-123-4567")])
    r = redact_pii(d).collect()[0]
    assert r["text_redacted"] == "<EMAIL> and <EMAIL> via <IP> dial <PHONE>"
    assert r["n_pii"] == 4


def test_redact_idempotent(spark):
    d = _docs(spark, [(1, "u@v.org at 10.1.2.3 call +1-555-1111")])
    once = redact_pii(d).select("doc_id", F.col("text_redacted").alias("text"))
    twice = redact_pii(once).collect()[0]
    assert twice["text_redacted"] == "<EMAIL> at <IP> call <PHONE>"
    assert twice["n_pii"] == 0  # placeholders match nothing


def test_redact_null_text_passes_through(spark):
    r = redact_pii(_docs(spark, [(1, None)])).collect()[0]
    assert r["text_redacted"] is None
    assert r["n_pii"] == 0


def test_redact_numeric_host_falls_to_ip_rule(spark):
    # a dotted-quad host is NOT an email by the shipped rule (the TLD
    # must be alphabetic — Java and RE2 agree), so the IP rule redacts
    # the quad and the local part survives
    r = redact_pii(_docs(spark, [(1, "u@10.0.0.1 end")])).collect()[0]
    assert r["text_redacted"] == "u@<IP> end"
    assert r["n_pii"] == 1


def test_redact_column_clash_guard(spark):
    d = _docs(spark, [(1, "x")]).withColumn("n_pii", F.lit(0))
    with pytest.raises(ValueError, match="already has column"):
        redact_pii(d)


def test_redact_plan_has_no_shuffle(spark):
    d = _docs(spark, [(1, "x")])
    plan = redact_pii(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
