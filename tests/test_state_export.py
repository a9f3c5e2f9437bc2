"""State JSON export/import parity — golden ported from the reference's
state-roundtrip test (ref tests/test_pbc_monitor.py:562-640)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from icrawler_spark.crawl.export import (
    legacy_state_to_entries,
    state_export_df,
    state_export_json,
)
from icrawler_spark.crawl.state import (
    merge_documents,
    merge_entries,
    merge_seen,
    resolve_entry_identity,
)


@pytest.fixture()
def state_tables(spark):
    entries = spark.createDataFrame(
        [
            ("eA", "task", 1, "公告A", ""),
            ("eB", "task", 2, "公告B", "备注"),
        ],
        "entry_id string, task string, serial int, title string, remark string",
    )
    documents = spark.createDataFrame(
        [
            ("eA", "http://example.com/a.pdf", "pdf", "公告A"),
            ("eB", "http://example.com/b.pdf", "pdf", "公告B"),
        ],
        "entry_id string, url string, doc_type string, title string",
    )
    seen = spark.createDataFrame(
        [
            ("http://example.com/a.pdf", "eA", "公告A", "pdf", True, "downloads/a.pdf"),
            ("http://example.com/b.pdf", "eB", "公告B", "pdf", True, None),
        ],
        "url string, entry_id string, title string, doc_type string, "
        "downloaded boolean, local_path string",
    )
    return entries, documents, seen


def test_state_export_matches_reference_golden(spark, state_tables):
    entries, documents, seen = state_tables
    got = json.loads(state_export_json(entries, documents, seen))
    # exact golden from ref tests/test_pbc_monitor.py:605-635
    assert got == {
        "entries": [
            {
                "serial": 1,
                "title": "公告A",
                "remark": "",
                "documents": [
                    {
                        "type": "pdf",
                        "url": "http://example.com/a.pdf",
                        "title": "公告A",
                        "downloaded": True,
                        "local_path": "downloads/a.pdf",
                    }
                ],
            },
            {
                "serial": 2,
                "title": "公告B",
                "remark": "备注",
                "documents": [
                    {
                        "type": "pdf",
                        "url": "http://example.com/b.pdf",
                        "title": "公告B",
                        "downloaded": True,
                    }
                ],
            },
        ]
    }


def test_export_order_null_serials_last(spark):
    entries = spark.createDataFrame(
        [("e1", "t", None, "乙", ""), ("e2", "t", 5, "甲", ""), ("e3", "t", None, "甲", "")],
        "entry_id string, task string, serial int, title string, remark string",
    )
    documents = spark.createDataFrame(
        [], "entry_id string, url string, doc_type string, title string"
    )
    rows = state_export_df(entries, documents).collect()
    # nulls last; within nulls, title code-point order (乙 U+4E59 < 甲 U+7532)
    assert [(r.serial, r.title) for r in rows] == [(5, "甲"), (None, "乙"), (None, "甲")]


def test_legacy_dict_migration(spark):
    df = legacy_state_to_entries(spark, {
        "http://x/a.pdf": "文件A",
        "http://x/b": "",
    })
    rows = {r.url: r for r in df.collect()}
    assert rows["http://x/a.pdf"].doc_type == "pdf"
    assert rows["http://x/a.pdf"].title == "文件A"
    assert rows["http://x/a.pdf"].downloaded is True
    assert rows["http://x/b"].doc_type == "html"     # no extension → html
    assert rows["http://x/b"].doc_title == "http://x/b"  # empty name → url


def test_legacy_list_migration(spark):
    df = legacy_state_to_entries(spark, ["http://x/c.docx", {"url": "http://x/d.zip", "name": "压缩包"}])
    rows = {r.url: r for r in df.collect()}
    assert rows["http://x/c.docx"].doc_type == "word"
    assert rows["http://x/d.zip"].doc_type == "archive"
    assert rows["http://x/d.zip"].title == "压缩包"


def test_merge_seen_never_unsets_downloaded(spark):
    seen = spark.createDataFrame(
        [("u1", "e1", "t", "pdf", True, "p1")],
        "url string, entry_id string, title string, doc_type string, "
        "downloaded boolean, local_path string",
    )
    batch = spark.createDataFrame(
        [("u1", "e1", "t2", "pdf", False, None, 0)],
        "url string, entry_id string, title string, doc_type string, "
        "downloaded boolean, local_path string, _src_pos long",
    )
    out = merge_seen(seen, batch).collect()
    assert len(out) == 1
    assert out[0].downloaded is True  # ref state.py:164-172


_SEEN = ("url string, entry_id string, title string, doc_type string, "
         "downloaded boolean, local_path string")
_DOCS = "entry_id string, url string, doc_type string, title string, _src_pos long"


def test_multi_delta_merge_equals_nested_merges(spark):
    """One window over every delta equals folding them one merge at a time:
    newest non-empty fields win, ``downloaded`` only upgrades, existing
    document rows win before any delta's position."""
    seen = spark.createDataFrame(
        [("u1", "e0", "old", "pdf", False, "p0"), ("u2", "e0", None, None, False, None)], _SEEN)
    s1 = spark.createDataFrame(
        [("u1", "e1", "", "pdf", True, "p1", 5), ("u3", "e1", "t3", "pdf", False, None, 1),
         ("u3", "e1", None, "word", False, "", 2)], _SEEN + ", _src_pos long")
    s2 = spark.createDataFrame(  # no _src_pos: content-hash pseudo-order
        [("u1", "e2", None, None, False, None), ("u2", "e2", "", "html", False, "")], _SEEN)
    s3 = spark.createDataFrame(
        [("u1", None, "new", "", False, None, 0), ("u3", "e3", "t3b", None, True, "p3", 9)],
        _SEEN + ", _src_pos long")
    nested = merge_seen(merge_seen(merge_seen(seen, s1), s2), s3)
    assert sorted(merge_seen(seen, s1, s2, s3).collect()) == sorted(nested.collect())
    u1 = next(r for r in nested.collect() if r.url == "u1")
    assert (u1.entry_id, u1.title, u1.downloaded, u1.local_path) == ("e2", "new", True, "p1")

    docs = spark.createDataFrame(
        [("e1", "u1", "pdf", "listed", 30), ("e1", "u2", "pdf", "", 40)], _DOCS)
    d1 = spark.createDataFrame(  # the listing rows of a round
        [("e1", "u1", "pdf", "again", 1), ("e2", "u3", "docx", "listing", 20),
         ("e2", "u4", "pdf", None, 21)], _DOCS)
    d2 = spark.createDataFrame(  # attachments: smaller positions, same keys
        [("e2", "u3", "docx", "attachment", 0), ("e2", "u4", "pdf", "att", 1),
         ("e3", "u5", "docx", "", 0)], _DOCS)
    nested = merge_documents(merge_documents(docs, d1), d2)
    assert sorted(merge_documents(docs, d1, d2).collect()) == sorted(nested.collect())
    by_key = {(r.entry_id, r.url): r.title for r in nested.collect()}
    assert (by_key[("e1", "u1")], by_key[("e2", "u3")]) == ("listed", "listing")


_ENTRIES = "entry_id string, task string, serial int, title string, remark string"
_PARSED = ("task string, page_url string, entry_pos int, serial int, title string, "
           "remark string, documents array<struct<doc_type:string,url:string,title:string>>, "
           "_src_pos long")


def _apply_batches(spark, batches, n_parts, entries=None, documents=None, src_pos=True):
    """Resolve and merge parsed-entry batches one round at a time. Each
    event is (task, serial, title, [doc urls]); ``_src_pos`` runs across
    batches in event order."""
    pos = 0
    for batch in batches:
        rows = []
        for task, serial, title, urls in batch:
            rows.append((task, f"page://{pos}", 0, serial, title, "",
                         [("pdf", u, "") for u in urls], pos))
            pos += 1
        ne = spark.createDataFrame(rows, _PARSED).repartition(n_parts)
        with_ids = resolve_entry_identity(ne, documents).localCheckpoint(eager=True)
        cols = ["entry_id", "task", "serial", "title", "remark"] + (["_src_pos"] if src_pos else [])
        batch_docs = with_ids.select(
            "entry_id", "_src_pos", F.posexplode("documents").alias("_p", "_d")
        ).select("entry_id", F.col("_d.url").alias("url"), F.col("_d.doc_type").alias("doc_type"),
                 F.col("_d.title").alias("title"), (F.col("_src_pos") * 1000 + F.col("_p")).alias("_src_pos"))
        entries = merge_entries(entries, with_ids.select(*cols).repartition(n_parts)).localCheckpoint(eager=True)
        documents = merge_documents(documents, batch_docs).localCheckpoint(eager=True)
    return {(r.task, r.entry_id): (r.serial, r.title) for r in entries.collect()}


@pytest.mark.parametrize("n_parts", [1, 3])
def test_serial_walk_sequential_and_per_task(spark, n_parts):
    """The reference's one-at-a-time ``next_serial`` walk (ref
    state.py:110-132) on hand-built batches: in-batch conflicts, literals
    equal to just-assigned serials, per-task serial spaces, identity
    adoption keeping the serial, and the NULL/no-``_src_pos`` edges."""
    seq = [("t", 3, "甲规定", ["http://x/a.html", "http://x/a.pdf"]),
           ("t", 7, "乙办法", ["http://x/b.pdf"]),
           ("t", 99, "甲规定(修订)", ["http://x/a.pdf"])]  # adopts 甲 via a.pdf
    batch = [("t", 10, "X", ["http://x/x.pdf"]), ("t", None, "Y", ["http://x/y.pdf"]),
             ("t", 7, "Z", ["http://x/z.pdf"]), ("t", 10, "W", ["http://x/w.pdf"])]
    got = {title: s for s, title in _apply_batches(spark, [[e] for e in seq] + [batch], n_parts).values()}
    assert got == {"甲规定(修订)": 3, "乙办法": 7, "X": 10, "Y": 11, "Z": 12, "W": 13}

    abcd = [[("t", None, "A", ["http://x/aa.pdf"]), ("t", 1, "B", ["http://x/bb.pdf"])],
            [("t", None, "C", ["http://x/cc.pdf"]), ("t", 3, "D", ["http://x/dd.pdf"])]]
    got = {title: s for s, title in _apply_batches(spark, abcd, n_parts).values()}
    assert got == {"A": 1, "B": 2, "C": 3, "D": 4}

    tasks = [[("A", None, "A1", ["http://a/1.pdf"]), ("A", 1, "A2", ["http://a/2.pdf"]),
              ("B", None, "B1", ["http://b/1.pdf"]), ("B", 2, "B2", ["http://b/2.pdf"]),
              ("B", 2, "B3", ["http://b/3.pdf"])],
             [("A", None, "A3", ["http://a/3.pdf"]), ("B", 1, "B4", ["http://b/4.pdf"]),
              ("C", 5, "C1", ["http://c/1.pdf"])]]
    got = {(t, title): s for (t, _), (s, title) in _apply_batches(spark, tasks, n_parts).items()}
    assert got == {("A", "A1"): 1, ("A", "A2"): 2, ("A", "A3"): 3, ("B", "B1"): 1,
                   ("B", "B2"): 2, ("B", "B3"): 3, ("B", "B4"): 4, ("C", "C1"): 5}

    # existing NULL serial passes through and never counts as a max; a
    # matched entry whose first batch row has no title keeps its title
    entries = spark.createDataFrame(
        [("m", "t", None, "保留", ""), ("o", "t", 4, "四", "")], _ENTRIES)
    documents = spark.createDataFrame(
        [("m", "http://x/m.pdf", "pdf", "", 0), ("o", "http://x/o.pdf", "pdf", "", 1)], _DOCS)
    edge = [("t", 8, None, ["http://x/m.pdf"]), ("t", 9, "后来", ["http://x/m.pdf"]),
            ("t", None, "新", ["http://x/n.pdf"]), ("t", 4, "撞", ["http://x/k.pdf"])]
    got = _apply_batches(spark, [edge], n_parts, entries, documents)
    assert got == {("t", "m"): (None, "保留"), ("t", "o"): (4, "四"),
                   ("t", "http://x/n.pdf"): (5, "新"), ("t", "http://x/k.pdf"): (6, "撞")}

    # a batch without _src_pos (content-hash order): clean literals keep,
    # a matched entry keeps its serial and takes the new title
    nopos = [("t", 9, "甲新", ["http://x/m.pdf"]), ("t", 2, "二", ["http://x/2.pdf"]),
             ("t", 6, "六", ["http://x/6.pdf"])]
    got = _apply_batches(spark, [nopos], n_parts, entries, documents, src_pos=False)
    assert got == {("t", "m"): (None, "甲新"), ("t", "o"): (4, "四"),
                   ("t", "http://x/2.pdf"): (2, "二"), ("t", "http://x/6.pdf"): (6, "六")}


def test_compact_tables_collapses_shared_urls(spark):
    from icrawler_spark.crawl.state import compact_tables

    entries = spark.createDataFrame(
        [("eA", "t", 1, "甲", ""), ("eB", "t", 2, "甲副本", ""), ("eC", "t", 3, "乙", "")],
        "entry_id string, task string, serial int, title string, remark string",
    )
    documents = spark.createDataFrame(
        [
            ("eA", "http://x/shared.pdf", "pdf", "a"),
            ("eB", "http://x/shared.pdf", "pdf", "a-dup"),   # same url → collapse
            ("eB", "http://x/b.html", "html", "b"),
            ("eC", "http://x/c.pdf", "pdf", "c"),
        ],
        "entry_id string, url string, doc_type string, title string",
    )
    ent2, docs2, m = compact_tables(entries, documents)
    assert m["entries_before"] == 3 and m["entries_after"] == 2
    ids = {r.entry_id for r in ent2.collect()}
    assert ids == {"eA", "eC"}
    docs = {(r.entry_id, r.url) for r in docs2.collect()}
    # eB's documents moved under eA; duplicate (entry,url) collapsed
    assert ("eA", "http://x/shared.pdf") in docs
    assert ("eA", "http://x/b.html") in docs
    assert len([d for d in docs if d[1] == "http://x/shared.pdf"]) == 1


def test_normalize_filenames_maintenance(spark, tmp_path):
    """ref scripts/normalize_filenames.py parity: downloaded files are
    renamed to the canonical structured filename, local_path is updated in
    the entry documents, collisions and missing files are skipped, a .bak
    is written, and dry-run changes nothing."""
    import json
    import os

    from icrawler_spark.crawl.maintenance import apply_normalize_filenames
    from icrawler_spark.functions.pure import structured_filename

    dl = tmp_path / "downloads"
    dl.mkdir()
    # doc 1: wrong name on disk → rename
    (dl / "messy-name.pdf").write_bytes(b"pdf-bytes")
    # docs 2+3: DIFFERENT urls that normalize to the SAME target → second skips
    (dl / "old_b1.doc").write_bytes(b"b1")
    (dl / "old_b2.doc").write_bytes(b"b2")
    # doc 4: already canonical → untouched
    canon4 = structured_filename("https://h.test/ok/file4.html", "html")
    (dl / canon4).write_bytes(b"ok")

    state = {
        "entries": [
            {"title": "甲", "remark": "", "serial": 1, "documents": [
                {"url": "https://h.test/a/doc%201.pdf", "type": "pdf",
                 "downloaded": True, "local_path": "downloads/messy-name.pdf"},
            ]},
            {"title": "乙", "remark": "", "serial": 2, "documents": [
                {"url": "https://h.test/b?x=1", "type": "doc",
                 "downloaded": True, "local_path": "downloads/old_b1.doc"},
                {"url": "https://h.test/b/?x=1", "type": "doc",
                 "downloaded": True, "local_path": "downloads/old_b2.doc"},
            ]},
            {"title": "丙", "remark": "", "serial": 3, "documents": [
                {"url": "https://h.test/ok/file4.html", "type": "html",
                 "downloaded": True, "local_path": f"downloads/{canon4}"},
                {"url": "https://h.test/never.pdf", "type": "pdf",
                 "downloaded": False, "local_path": None},
                {"url": "https://h.test/gone.pdf", "type": "pdf",
                 "downloaded": True, "local_path": "downloads/vanished.pdf"},
            ]},
        ]
    }
    sp = tmp_path / "state.json"
    sp.write_text(json.dumps(state, ensure_ascii=False))

    # dry-run: nothing moves, state unchanged
    before = sp.read_text()
    counters = apply_normalize_filenames(spark, str(sp), dry_run=True)
    assert counters["renamed"] >= 1
    assert sp.read_text() == before
    assert (dl / "messy-name.pdf").exists()

    counters = apply_normalize_filenames(spark, str(sp))
    exp1 = structured_filename("https://h.test/a/doc%201.pdf", "pdf")
    assert (dl / exp1).exists() and not (dl / "messy-name.pdf").exists()
    assert counters["already_ok"] == 1
    assert counters["skipped"] == 2  # the collision loser + the missing file
    assert os.path.exists(str(sp) + ".bak")

    after = json.loads(sp.read_text())
    docs = {d["url"]: d for e in after["entries"] for d in e["documents"]}
    assert docs["https://h.test/a/doc%201.pdf"]["local_path"] == f"downloads/{exp1}"
    # exactly one of the colliding pair got the canonical target
    tgt = structured_filename("https://h.test/b?x=1", "doc")
    winners = [u for u in ("https://h.test/b?x=1", "https://h.test/b/?x=1")
               if docs[u]["local_path"] == f"downloads/{tgt}"]
    assert len(winners) == 1
    # missing file's record untouched
    assert docs["https://h.test/gone.pdf"]["local_path"] == "downloads/vanished.pdf"


def test_normalize_filenames_missing_first_claimant_frees_target(spark, tmp_path):
    """Renames run in discovery order like the reference's sequential walk:
    when the first record wanting a target is skipped because its file is
    missing, the second record wanting that target is renamed."""
    import json

    from icrawler_spark.crawl.maintenance import apply_normalize_filenames
    from icrawler_spark.functions.pure import structured_filename

    dl = tmp_path / "downloads"
    dl.mkdir()
    (dl / "old_b2.doc").write_bytes(b"b2")  # old_b1.doc is missing
    state = {
        "entries": [
            {"title": "乙", "remark": "", "serial": 2, "documents": [
                {"url": "https://h.test/b?x=1", "type": "doc",
                 "downloaded": True, "local_path": "downloads/old_b1.doc"},
                {"url": "https://h.test/b/?x=1", "type": "doc",
                 "downloaded": True, "local_path": "downloads/old_b2.doc"},
            ]},
        ]
    }
    tgt = structured_filename("https://h.test/b?x=1", "doc")
    assert tgt == structured_filename("https://h.test/b/?x=1", "doc")
    sp = tmp_path / "state.json"
    sp.write_text(json.dumps(state, ensure_ascii=False))

    counters = apply_normalize_filenames(spark, str(sp))
    assert counters == {"renamed": 1, "skipped": 1, "already_ok": 0}
    assert (dl / tgt).read_bytes() == b"b2" and not (dl / "old_b2.doc").exists()
    docs = {d["url"]: d for e in json.loads(sp.read_text())["entries"] for d in e["documents"]}
    assert docs["https://h.test/b/?x=1"]["local_path"] == f"downloads/{tgt}"
    assert docs["https://h.test/b?x=1"]["local_path"] == "downloads/old_b1.doc"
