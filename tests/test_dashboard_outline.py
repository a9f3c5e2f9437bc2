"""Outline builder: driver-side nesting and the Spark UDF."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from icrawler_spark.search.outline import build_outline, outline_udf


OUTLINE_DOC = (
    "第一条 总则。\n"
    "第一款 适用范围：\n"
    "（一）银行业金融机构；\n"
    "（二）支付机构。\n"
    "第二条 附则。\n"
    "1、补充说明\n"
)


def test_build_outline_nesting():
    ol = build_outline(OUTLINE_DOC)
    assert [n["type"] for n in ol] == ["article", "article"]
    assert ol[0]["number"] == 1
    para = ol[0]["children"][0]
    assert para["type"] == "paragraph" and para["number"] == 1
    assert [c["number"] for c in para["children"]] == [1, 2]
    assert ol[1]["children"][0]["type"] == "item"  # bullet under article
    assert ol[1]["children"][0]["number"] == 1


def test_outline_udf(spark):
    df = spark.createDataFrame([(OUTLINE_DOC,)], "text string")
    out = df.select(outline_udf()(F.col("text")).alias("ol")).collect()[0].ol
    parsed = json.loads(out)
    assert parsed[0]["type"] == "article" and parsed[0]["children"]
