"""URL/domain blocklist filtering (operators/domains.py).

Reference analog: none (the reference has no source-URL notion) —
brief-side training-data surface: the UT1/CCNet-style domain pass.
"""

from __future__ import annotations

from batch_import_spark.operators.domains import (
    domain_filter,
    host_of,
    host_suffixes,
    registrable_domain,
)

from pyspark.sql import functions as F


def test_host_extraction_strips_scheme_userinfo_port_path(spark):
    df = spark.createDataFrame(
        [
            (0, "https://WWW.Example.COM/page?q=1"),
            (1, "http://user:pw@a.b.example.org:8080/x"),
            (2, "example.net"),
            (3, "ftp://files.example.net:21"),
        ],
        "doc_id: long, url: string",
    )
    got = {
        r.doc_id: (r.h, r.d, r.s)
        for r in df.select(
            "doc_id",
            host_of(F.col("url")).alias("h"),
            registrable_domain(host_of(F.col("url"))).alias("d"),
            host_suffixes(host_of(F.col("url"))).alias("s"),
        ).collect()
    }
    assert got[0] == (
        "www.example.com",
        "example.com",
        ["www.example.com", "example.com", "com"],
    )
    assert got[1][0] == "a.b.example.org"
    assert got[1][1] == "example.org"
    assert got[2] == ("example.net", "example.net", ["example.net", "net"])
    assert got[3][0] == "files.example.net"


def test_blocklist_suffix_match_and_cap(spark):
    docs = spark.createDataFrame(
        [
            (0, "https://www.good.com/a"),
            (1, "https://cdn.bad.com/a"),       # blocked via bad.com
            (2, "https://bad.com/a"),           # blocked exactly
            (3, "https://sub.cdn.evil.org/a"),  # blocked via cdn.evil.org
            (4, "https://www.evil.org/a"),      # NOT blocked (only cdn sub)
            (5, "https://good.com/b"),
            (6, "https://good.com/c"),
        ]
        # over the cap of 20 per domain: good.com's 21st doc
        + [(i, f"https://good.com/{i}") for i in range(7, 25)],
        "doc_id: long, url: string",
    )
    bl = spark.createDataFrame(
        [("bad.com",), ("cdn.evil.org",)], "suffix: string"
    )
    got = {
        r.doc_id: (r.blocked, r.keep, r.reason)
        for r in domain_filter(docs, bl).collect()
    }
    assert got[0] == (False, True, "")
    assert got[1] == (True, False, "blocked:bad.com")
    assert got[2] == (True, False, "blocked:bad.com")
    assert got[3] == (True, False, "blocked:cdn.evil.org")
    assert got[4] == (False, True, "")
    assert got[5] == (False, True, "")
    # ids 0, 5, 6 and 7..24 share good.com: 24 is its 21st doc
    assert got[23] == (False, True, "")
    assert got[24] == (False, False, "over_cap")


def test_no_cap_keeps_all_unblocked(spark):
    # 10 docs of one domain, under the per-domain cap
    docs = spark.createDataFrame(
        [(i, f"https://many.com/{i}") for i in range(10)],
        "doc_id: long, url: string",
    )
    bl = spark.createDataFrame([("none.org",)], "suffix: string")
    out = domain_filter(docs, bl).collect()
    assert all(r.keep and r.reason == "" for r in out)
    assert len(out) == 10
