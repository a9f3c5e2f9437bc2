"""Scalar-function goldens (ported from the reference's pytest suite) and
native-Column ↔ pure-Python parity checks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from icrawler_spark.functions import native, pandas_udfs, pure


# --- pure goldens (reference: tests/test_crawler.py:40-42, test_pbc_monitor.py:48-49) ---


def test_safe_filename_goldens():
    assert pure.safe_filename("http://example.com/a?b=1") == "http___example_com_a_b_1"
    assert pure.safe_filename("中国人民银行公告[2010]第17号") == "中国人民银行公告_2010_第17号"
    assert pure.safe_filename("") == "_"
    assert pure.safe_filename("///") == "_"


def test_classify_document_type():
    assert pure.classify_document_type("http://example.com/a.wps") == "word"
    assert pure.classify_document_type("http://example.com/a.pdf") == "pdf"
    assert pure.classify_document_type("http://example.com/detail") == "html"
    assert pure.classify_document_type("http://example.com/a.XLSX") == "excel"
    assert pure.classify_document_type("http://example.com/a.unknown") == "other"
    assert pure.classify_document_type("http://example.com/dir/page.htm?x=1") == "html"


def test_structured_filename():
    assert (
        pure.structured_filename("http://www.pbc.gov.cn/tiaofasi/144941/index.html")
        == "tiaofasi_144941_index.html"
    )
    assert pure.structured_filename("http://e.com/a/b.pdf") == "a_b.pdf"
    assert pure.structured_filename("http://e.com/download", "word") == "download.doc"
    assert pure.structured_filename("http://e.com/x?id=7", "pdf") == "x__id_7.pdf"
    assert pure.structured_filename("http://e.com/", None) == "e_com.bin"


def test_norm_text_and_tokenize():
    assert pure.norm_text("中国人民银行（2023）  公告") == '中国人民银行(2023) 公告'
    assert pure.norm_text("《办法》“引号”") == '"办法""引号"'
    # tokens are whole CJK runs; stopwords drop only exact-token matches
    assert pure.tokenize_zh("关于发布《征信业务管理办法》的通知 PBC2021") == [
        "关于发布", "征信业务管理办法", "的通知", "PBC2021"
    ]
    assert pure.tokenize_zh("通知 关于 征信") == ["征信"]


def test_extract_docno():
    assert pure.extract_docno("中国人民银行公告〔2023〕第3号") == "公告[2023]第3号"
    assert pure.extract_docno("银发[21]12号") == "银发[2021]12号"  # 2-digit year fixup
    assert pure.extract_docno("没有文号") is None


def test_guess_doctype_agency():
    assert pure.guess_doctype("XX管理办法") == "管理办法"
    assert pure.guess_doctype("关于YY的通知") == "通知"
    assert pure.guess_doctype("随便") is None
    assert pure.guess_agency("中国人民银行和国务院联合") == "中国人民银行、国务院"
    assert pure.guess_agency("谁都没有") is None


def test_is_probable_policy():
    assert pure.is_probable_policy("征信业务管理办法")
    assert not pure.is_probable_policy("关于废止部分规章的决定")
    assert not pure.is_probable_policy("好标题", "已废止")


def test_parse_serial():
    assert pure.parse_serial(" 12．") == 12
    assert pure.parse_serial("(3)") == 3
    # fullwidth parens are NOT stripped (reference strips ASCII only)
    assert pure.parse_serial("（3）") is None
    assert pure.parse_serial("abc") is None
    assert pure.parse_serial("") is None


def test_dates():
    assert pure.find_date_in_text("发布于2023-07-15的公告") == "2023-07-15"
    assert pure.find_date_in_text("2023年7月15日印发") == "2023年7月15日"
    assert pure.find_date_in_text("无日期") is None


def test_chinese_numerals_roundtrip():
    goldens = {1: "一", 2: "二", 10: "十", 11: "十一", 20: "二十", 105: "一百零五",
               1000: "一千", 10000: "一万", 123: "一百二十三"}
    for n, zh in goldens.items():
        assert pure.int_to_chinese(n) == zh
        assert pure.chinese_to_int(zh) == n
    assert pure.chinese_to_int("壹佰贰拾叁") == 123
    assert pure.chinese_to_int("两") == 2
    assert pure.chinese_to_int("42") == 42
    assert pure.chinese_to_int("abc") is None


def test_decode_bytes():
    assert pure.decode_bytes("你好".encode("utf-8")) == "你好"
    # even-length gbk bytes fall through to utf-16 first (reference order);
    # odd-length payloads exercise the real gb18030 branch
    assert pure.decode_bytes("你好a".encode("gb18030")) == "你好a"
    assert pure.decode_bytes(None) == ""


def test_urljoin_resolve():
    assert pure.urljoin_resolve("http://e.com/a/b.html", "c.pdf") == "http://e.com/a/c.pdf"
    assert pure.urljoin_resolve("http://e.com/a/b.html", "../x/./y.html") == "http://e.com/x/y.html"
    assert pure.urljoin_resolve("http://e.com/a/", "//cdn.e.com/z") == "http://cdn.e.com/z"


# --- native Column ↔ pure parity ----------------------------------------------

URLS = [
    "http://example.com/a.pdf", "http://example.com/b.DOCX", "http://e.com/c.wps",
    "http://e.com/d.xls", "http://e.com/e.zip", "http://e.com/f.rar",
    "http://e.com/g.htm", "http://e.com/h.txt", "http://e.com/detail",
    "http://e.com/weird.xyz", "https://e.com/a/b/index_2.html?p=1",
    "javascript:void(0)", "ftp://e.com/x.pdf",
    "http://U:p@A.Test:8080/x", "HTTPS://WWW.E.COM/Y.PDF", "http://e.com:81/z.doc",
]

TITLES = [
    "中国人民银行公告〔2023〕第3号", "关于废止部分规章的决定", "XX管理办法",
    "银发[21]12号文件", "发布于2023-07-15", "2023年7月15日印发", " 12．", "（3）",
    "中国人民银行和国务院联合发布", "plain ascii title", "",
]


def test_native_parity(spark):
    df = spark.createDataFrame([(u,) for u in URLS], ["url"])
    rows = (
        df.select(
            "url",
            native.classify_document_type(F.col("url")).alias("dt"),
            native.has_attachment_suffix(F.col("url")).alias("att"),
            native.is_supported_scheme(F.col("url")).alias("ok"),
            native.url_netloc(F.col("url")).alias("netloc"),
        ).collect()
    )
    for r in rows:
        assert r.dt == pure.classify_document_type(r.url), r.url
        assert r.att == pure.has_attachment_suffix(r.url), r.url
        assert r.ok == pure.is_supported_scheme(r.url), r.url
        if r.url.lower().startswith("http"):
            assert r.netloc == pure.url_netloc(r.url), r.url
    # the host alone: no userinfo, no port, lower-cased
    assert pure.url_netloc("http://U:p@A.Test:8080/x") == "a.test"


def test_native_text_parity(spark):
    # production composition: NFKC (pandas UDF) materialized first, then the
    # native expressions (HOF lambdas can't nest a Python UDF inline)
    df = (
        spark.createDataFrame([(t,) for t in TITLES], ["t"])
        .withColumn("t_nfkc", pandas_udfs.nfkc(F.col("t")))
    )
    nf = F.col("t_nfkc")
    rows = df.select(
        "t",
        native.norm_text_ascii(nf).alias("norm"),
        native.tokenize_zh(nf).alias("toks"),
        native.extract_docno(nf).alias("docno"),
        native.guess_doctype(nf).alias("dtype"),
        native.guess_agency(nf).alias("agency"),
        native.parse_serial(F.col("t")).alias("serial"),
        native.find_date_in_text(F.col("t")).alias("date"),
        native.is_probable_policy(nf, F.lit(None).cast("string")).alias("pol"),
    ).collect()
    for r in rows:
        assert r.norm == pure.norm_text(r.t), r.t
        assert list(r.toks) == pure.tokenize_zh(r.t), r.t
        assert r.docno == pure.extract_docno(r.t), r.t
        assert r.dtype == pure.guess_doctype(r.t), r.t
        assert r.agency == pure.guess_agency(r.t), r.t
        assert r.serial == pure.parse_serial(r.t), r.t
        assert r.date == pure.find_date_in_text(r.t), r.t
        assert r.pol == pure.is_probable_policy(r.t), r.t


def test_pandas_udfs(spark):
    df = spark.createDataFrame(
        [("中国人民银行公告[2010]第17号", "http://e.com/a/b.html", "c.pdf", "十一"),
         ("x？y", "http://e.com/p/", "../q.doc", "一百二十三")],
        ["title", "base", "href", "zh"],
    )
    rows = df.select(
        pandas_udfs.safe_filename(F.col("title")).alias("fn"),
        pandas_udfs.urljoin_resolve(F.col("base"), F.col("href")).alias("joined"),
        pandas_udfs.chinese_to_int(F.col("zh")).alias("n"),
        pandas_udfs.structured_filename(F.col("base"), F.lit("pdf")).alias("sf"),
        "title", "base", "href", "zh",
    ).collect()
    for r in rows:
        assert r.fn == pure.safe_filename(r.title)
        assert r.joined == pure.urljoin_resolve(r.base, r.href)
        assert r.n == pure.chinese_to_int(r.zh)
        assert r.sf == pure.structured_filename(r.base, "pdf")
