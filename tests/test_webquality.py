"""Semantic tests for the r5 web-quality operators: gopher_filter
(exact-integer rule boundaries), anchor_text (mass conservation vs the
link-graph rule), tfidf_terms (integer-idf ranking contract)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def _write_docs(tmp_path, rows):
    pd.DataFrame(rows).to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


def test_gopher_filter_rule_boundaries(spark, tmp_path):
    from slowfast_feature_extractor_spark.plans.queries import q_gopher_filter

    # Boundary-exact docs: every comparison lands ON an integer edge so a
    # float re-expression would be ambiguous; the integer forms are not.
    rows = [
        # 0: passes everything (30 words, chars=146 ≥ 4*30, stops=2)
        {"doc_id": 0, "text": ("words " * 28 + "the and").strip(), "source": "s"},
        # 1: 29 words → word-count rule fails, everything else passes
        {"doc_id": 1, "text": ("words " * 27 + "the and").strip(), "source": "s"},
        # 2: awl below 4 (3-char words, chars=90 < 120) → avg-word-len fails
        {"doc_id": 2, "text": ("cat " * 28 + "the and").strip(), "source": "s"},
        # 3: only 1 stopword → stopword rule fails
        {"doc_id": 3, "text": ("words " * 29 + "the").strip(), "source": "s"},
        # 4: 30 tokens, 7 digit-tokens → alpha 23/30, 5*23=115 < 120 fails
        {
            "doc_id": 4,
            "text": ("words " * 21 + "1234 " * 7 + "the and").strip(),
            "source": "s",
        },
    ]
    got = {
        r["doc_id"]: r
        for r in q_gopher_filter(spark, _write_docs(tmp_path, rows)).collect()
    }
    assert got[0]["keep"] and all(
        got[0][c]
        for c in (
            "rule_word_count",
            "rule_avg_word_len",
            "rule_alpha_ratio",
            "rule_stopwords",
        )
    )
    assert not got[1]["rule_word_count"] and not got[1]["keep"]
    assert got[1]["rule_avg_word_len"] and got[1]["rule_stopwords"]
    assert not got[2]["rule_avg_word_len"] and not got[2]["keep"]
    assert not got[3]["rule_stopwords"] and not got[3]["keep"]
    assert not got[4]["rule_alpha_ratio"] and not got[4]["keep"]
    assert got[4]["rule_word_count"]


def test_gopher_keep_is_conjunction_on_corpus(spark):
    from slowfast_feature_extractor_spark.plans.queries import q_gopher_filter

    df = q_gopher_filter(spark, "/root/testdata/sf0.001")
    bad = df.filter(
        F.col("keep")
        != (
            F.col("rule_word_count")
            & F.col("rule_avg_word_len")
            & F.col("rule_alpha_ratio")
            & F.col("rule_stopwords")
        )
    ).count()
    assert bad == 0
    # the synthetic corpus genuinely mixes keeps and drops
    kept = df.filter("keep").count()
    assert 0 < kept < df.count()


def test_anchor_text_mass_matches_link_graph(spark):
    from slowfast_feature_extractor_spark.plans.queries import (
        q_anchor_text,
        q_link_graph,
    )

    sf = "/root/testdata/sf0.001"
    inlinks = q_anchor_text(spark, sf).agg(F.sum("n_inlinks")).collect()[0][0]
    edges = q_link_graph(spark, sf).agg(F.sum("n_links")).collect()[0][0]
    # same deterministic edge scheme → identical total link mass
    assert inlinks == edges


def test_anchor_terms_sorted_and_in_vocab(spark):
    from slowfast_feature_extractor_spark.plans.queries import q_anchor_text

    rows = q_anchor_text(spark, "/root/testdata/sf0.001").collect()
    vocab = {f"w{i}" for i in range(31)}
    for r in rows:
        terms = r["anchor_terms"].split("|")
        assert terms == sorted(terms)
        assert len(terms) == r["n_terms"]
        assert set(terms) <= vocab


def test_tfidf_terms_contract(spark):
    from slowfast_feature_extractor_spark.plans.queries import q_tfidf_terms
    from slowfast_feature_extractor_spark.functions.textstats import STOPWORDS_EN

    rows = q_tfidf_terms(spark, "/root/testdata/sf0.001").collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
        assert 1 <= r["rnk"] <= 3
        assert r["score"] == r["tf"] * (20_000_000 // r["df"])
        assert r["term"] not in STOPWORDS_EN
        assert r["term"].isalpha() and r["term"].islower()
    for src, rs in by_src.items():
        assert len(rs) <= 3
        ordered = sorted(rs, key=lambda r: (-r["score"], r["term"]))
        assert [r["rnk"] for r in ordered] == list(range(1, len(rs) + 1))


def test_burst_rule_is_exact_integer(spark, tmp_path):
    import datetime as dt

    from slowfast_feature_extractor_spark.plans.queries import q_burst_detect

    # user 1: 3 days with counts (6, 3, 3) → total=12, n_days=3.
    # day-0 rate check: 6*3=18 > 2*12=24 is FALSE (exactly 1.5× mean).
    # user 2: counts (9, 2, 1) → 9*3=27 > 24 TRUE (2.25× mean).
    rows = []
    eid = 0
    for uid, counts in ((1, (6, 3, 3)), (2, (9, 2, 1))):
        for d, c in enumerate(counts):
            for k in range(c):
                rows.append(
                    {
                        "event_id": eid,
                        "ts": dt.datetime(2024, 1, 1 + d, 12, 0, k),
                        "user_id": uid,
                        "event_type": "view",
                        "value": 1.0,
                        "props": "{}",
                    }
                )
                eid += 1
    ev = pd.DataFrame(rows)
    ev["ts"] = ev["ts"].astype("datetime64[us]")  # Spark rejects NANOS parquet
    ev.to_parquet(tmp_path / "events.parquet", index=False)
    got = {
        (r["user_id"], r["day"]): r["burst"]
        for r in q_burst_detect(spark, str(tmp_path)).collect()
    }
    assert not got[(1, "2024-01-01")]  # 1.5x mean: below the 2x bar
    assert got[(2, "2024-01-01")]  # 2.25x mean: burst
    assert not any(got[(u, f"2024-01-0{d}")] for u in (1, 2) for d in (2, 3))


def test_bucketed_join_plan_is_shuffle_free(spark):
    from slowfast_feature_extractor_spark.plans.queries import q_bucketed_join

    df = q_bucketed_join(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # co-located SMJ over bucketed layout: no shuffle anywhere — not for
    # the join, not for the downstream groupBy on the bucket key
    assert "Exchange hashpartitioning" not in plan
    assert "ShuffleExchange" not in plan
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert df.count() > 0


def test_warc_roundtrip_hostile_payloads(spark):
    """Payloads that CONTAIN header-like bytes must not desynchronize
    the walk: the parser slices by Content-Length, never by sentinel
    scan. Also exercises multi-byte UTF-8 (octet_length != char count)."""
    from slowfast_feature_extractor_spark.sources import warc as W

    rows = [
        (0, "plain ascii payload"),
        # embedded record magic + blank lines inside the payload
        (1, "WARC/1.0\r\n\r\nContent-Length: 999\r\n\r\nfake"),
        (2, "café — ümläüts 中文"),
        (3, ""),  # empty payload: Content-Length 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rec = W.warc_record(
        F.concat(F.lit("https://x/p/"), F.col("doc_id").cast("string")),
        F.col("text"),
    )
    shards = W.build_shards(
        df, shard=F.lit(0).cast("long"), order=F.col("doc_id"), record=rec
    )
    got = {r["url"]: r for r in W.parse_shards(shards).collect()}
    import hashlib

    assert len(got) == 4
    for doc_id, text in rows:
        r = got[f"https://x/p/{doc_id}"]
        assert r["n_bytes"] == len(text.encode("utf-8"))
        assert r["payload_md5"] == hashlib.md5(text.encode("utf-8")).hexdigest()


def test_crawl_schedule_slot_contract(spark):
    from slowfast_feature_extractor_spark.plans.queries import q_crawl_schedule

    rows = q_crawl_schedule(spark, "/root/testdata/sf0.001").collect()
    by_host: dict[str, list] = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
        assert r["slot"] == (r["rn"] - 1) // 5
        assert r["fetch_offset_s"] == r["slot"] * 10
    for host, rs in by_host.items():
        rs.sort(key=lambda r: r["doc_id"])
        assert [r["rn"] for r in rs] == list(range(1, len(rs) + 1))
        # no slot ever exceeds the 5-url politeness budget
        from collections import Counter

        assert max(Counter(r["slot"] for r in rs).values()) <= 5


def test_url_frontier_disjoint_from_crawled(spark):
    from slowfast_feature_extractor_spark.plans.queries import q_url_frontier

    sf = "/root/testdata/sf0.001"
    frontier = q_url_frontier(spark, sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    crawled = docs.select(
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 97).cast("string"),
            F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
        ).alias("url")
    )
    assert frontier.join(crawled, "url", "inner").count() == 0
    assert frontier.count() > 0
    assert frontier.filter("n_referrers < 1").count() == 0


def test_robots_longest_match_semantics(spark):
    from slowfast_feature_extractor_spark.plans.queries import q_robots_filter

    rows = q_robots_filter(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        h = int(r["host"][1:])
        tail = r["path"][len("/p/") :]
        if h % 3 == 0:
            # single disallow rule on the /p/1 prefix
            assert r["allowed"] == (not tail.startswith("1"))
            assert r["matched_rule"] == ("/p/1" if tail.startswith("1") else "")
        elif h % 3 == 1:
            # allow /p/2 overrides disallow /p/ (longest match wins)
            assert r["allowed"] == tail.startswith("2")
            assert r["matched_rule"] == ("/p/2" if tail.startswith("2") else "/p/")
        else:
            assert r["allowed"] and r["matched_rule"] == ""


def test_funnel_stats_invariants(spark):
    from slowfast_feature_extractor_spark.plans.queries import (
        q_funnel_stats,
        q_gopher_filter,
    )

    sf = "/root/testdata/sf0.001"
    rows = q_funnel_stats(spark, sf).collect()
    for r in rows:
        assert r["n_final"] <= min(r["n_gopher"], r["n_unique"]) <= r["n_raw"]
    # stage-1 mass equals the standalone gopher filter's keep count
    total_gopher = sum(r["n_gopher"] for r in rows)
    assert total_gopher == q_gopher_filter(spark, sf).filter("keep").count()


def test_warc_roundtrip_randomized_sweep(spark):
    """Seeded randomized property sweep (one Spark job, 60 payloads):
    arbitrary unicode, CRLF runs, WARC-header lookalikes, and long
    payloads all round-trip byte-exactly through build_shards →
    parse_shards, across multiple shards."""
    import hashlib
    import random

    from slowfast_feature_extractor_spark.sources import warc as W

    rng = random.Random(20260817)
    alphabets = [
        "abc \r\n:",
        "WARC/1.0 Content-Length: \r\n",
        "αβγ中文🙂 \t",
        "".join(chr(c) for c in range(0x20, 0x7F)),
    ]
    rows = []
    for i in range(60):
        a = rng.choice(alphabets)
        text = "".join(rng.choice(a) for _ in range(rng.randrange(0, 400)))
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rec = W.warc_record(
        F.concat(F.lit("u/"), F.col("doc_id").cast("string")), F.col("text")
    )
    shards = W.build_shards(
        df, shard=F.expr("doc_id div 7"), order=F.col("doc_id"), record=rec
    )
    got = {r["url"]: r for r in W.parse_shards(shards).collect()}
    assert len(got) == 60
    for i, text in rows:
        b = text.encode("utf-8")
        r = got[f"u/{i}"]
        assert r["n_bytes"] == len(b)
        assert r["payload_md5"] == hashlib.md5(b).hexdigest()
        assert r["shard"] == i // 7


def test_warc_scan_reads_files_without_shuffle(spark):
    from slowfast_feature_extractor_spark.plans.queries import q_warc_scan

    df = q_warc_scan(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # production read path: binaryFile scan -> Arrow parser, map-only
    assert "Exchange" not in plan
    assert "MapInPandas" in plan
    assert df.count() > 0


def test_warc_rows_read_their_own_files(spark):
    """``warc_scan`` and ``warc_streamed`` each stage the corpus as
    files; building the second must not delete the files the first
    row's still-unconsumed DataFrame reads."""
    from slowfast_feature_extractor_spark.plans.queries import (
        q_warc_scan,
        q_warc_streamed,
    )

    cols = ["shard", "url", "n_bytes", "payload_md5"]
    scan = q_warc_scan(spark, "/root/testdata/sf0.001").select(cols)
    streamed = q_warc_streamed(spark, "/root/testdata/sf0.001").select(cols)
    got = sorted(map(tuple, scan.collect()))
    assert got == sorted(map(tuple, streamed.collect())) and len(got) > 0


def test_cdx_offsets_address_real_bytes(spark):
    """The CDX offsets are computed by closed-form arithmetic, never by
    parsing; this test slices the ACTUAL shard blob at every (offset,
    rec_len) and re-parses the slice — any framing-constant or cumsum
    error breaks it byte-for-byte."""
    from slowfast_feature_extractor_spark.plans.queries import (
        _docs,
        q_cdx_index,
    )
    from slowfast_feature_extractor_spark.sources import warc as W

    sf = "/root/testdata/sf0.001"
    d = _docs(spark, sf)
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 97).cast("string"),
        F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
    )
    rec = W.warc_record(url, F.col("text"))
    blobs = {
        r["shard"]: bytes(r["blob"])
        for r in W.build_shards(
            d, shard=F.expr("doc_id div 50"), order=F.col("doc_id"), record=rec
        ).collect()
    }
    idx = q_cdx_index(spark, sf).collect()
    assert idx and len(blobs) >= 1
    import hashlib

    for r in idx:
        shard = int(r["warc_file"][len("shard-") : -len(".warc")])
        blob = blobs[shard]
        sl = blob[r["offset"] : r["offset"] + r["rec_len"]]
        assert len(sl) == r["rec_len"]
        assert sl.startswith(b"WARC/1.0\r\n")
        assert sl.endswith(b"\r\n\r\n")
        hdr_end = sl.index(b"\r\n\r\n")
        headers = dict(
            line.split(": ", 1)
            for line in sl[:hdr_end].decode().split("\r\n")[1:]
        )
        assert headers["WARC-Target-URI"] == r["url"]
        n = int(headers["Content-Length"])
        payload = sl[hdr_end + 4 : hdr_end + 4 + n]
        assert hashlib.md5(payload).hexdigest() == r["payload_md5"]
    # offsets of consecutive records within a shard tile exactly
    by_file: dict[str, list] = {}
    for r in idx:
        by_file.setdefault(r["warc_file"], []).append(r)
    for f, rs in by_file.items():
        rs.sort(key=lambda r: r["offset"])
        pos = 0
        for r in rs:
            assert r["offset"] == pos
            pos += r["rec_len"]
        shard = int(f[len("shard-") : -len(".warc")])
        assert pos == len(blobs[shard])  # the index covers every byte


def test_robots_longest_match_randomized_vs_reference(spark, tmp_path):
    """Randomized cross-check of the distributed longest-match
    resolution against a direct Python implementation of the Google
    robots rule (most specific prefix wins; Allow beats Disallow on
    length ties; no match = allowed). Catches any drift between the
    window-rank formulation and the spec."""
    import random

    from pyspark.sql import Window

    rng = random.Random(97)
    hosts = [f"h{i}" for i in range(12)]
    rules = []
    for h in hosts:
        for _ in range(rng.randrange(0, 5)):
            prefix = "/" + "".join(
                rng.choice("ab/") for _ in range(rng.randrange(1, 5))
            )
            rules.append((h, prefix, rng.random() < 0.5))
    pages = []
    for i in range(300):
        h = rng.choice(hosts)
        path = "/" + "".join(rng.choice("ab/") for _ in range(rng.randrange(0, 6)))
        pages.append((i, h, path))

    def ref_decision(host, path):
        matching = [
            (p, a) for (h, p, a) in rules if h == host and path.startswith(p)
        ]
        if not matching:
            return True, ""
        # longest prefix wins; Allow beats Disallow on a length tie
        best = max(matching, key=lambda pa: (len(pa[0]), pa[1]))
        return best[1], best[0]

    pages_df = spark.createDataFrame(pages, "page_id long, host string, path string")
    rules_df = spark.createDataFrame(rules, "host string, prefix string, allow boolean")
    matched = pages_df.join(F.broadcast(rules_df), "host").filter(
        F.col("path").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("page_id").orderBy(
        F.length("prefix").desc(), F.col("allow").desc()
    )
    best = (
        matched.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("page_id", "prefix", "allow")
    )
    got = {
        r["page_id"]: (r["allowed"], r["matched_rule"])
        for r in pages_df.join(best, "page_id", "left")
        .select(
            "page_id",
            F.coalesce("allow", F.lit(True)).alias("allowed"),
            F.coalesce("prefix", F.lit("")).alias("matched_rule"),
        )
        .collect()
    }
    assert len(got) == 300
    mismatches = []
    for pid, host, path in pages:
        want_allow, want_rule = ref_decision(host, path)
        if got[pid][0] != want_allow:
            mismatches.append((pid, host, path, got[pid], (want_allow, want_rule)))
    assert not mismatches, mismatches[:5]


def test_burst_detect_vs_pandas_reference(spark):
    """Cross-check burst flags on the real events fixture against a
    direct pandas groupby re-implementation of the exact-integer rule."""
    import pandas as pd

    from slowfast_feature_extractor_spark.plans.queries import q_burst_detect

    sf = "/root/testdata/sf0.001"
    got = {
        (r["user_id"], r["day"]): (r["cnt"], r["total_cnt"], r["n_days"], r["burst"])
        for r in q_burst_detect(spark, sf).collect()
    }
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["day"] = ev["ts"].dt.strftime("%Y-%m-%d")
    daily = ev.groupby(["user_id", "day"]).size().rename("cnt").reset_index()
    totals = daily.groupby("user_id")["cnt"].agg(["sum", "count"])
    assert len(got) == len(daily)
    for _, row in daily.iterrows():
        tot, nd = totals.loc[row["user_id"]]
        want = (
            int(row["cnt"]),
            int(tot),
            int(nd),
            int(row["cnt"]) * int(nd) > 2 * int(tot),
        )
        assert got[(row["user_id"], row["day"])] == want


def test_warc_gz_roundtrip_and_member_addressability(spark):
    """gzip-member shards must (a) round-trip hostile/multi-byte
    payloads byte-exactly, (b) be built of INDEPENDENT members — the
    i-th member inflates alone, the property CDX ranged reads rely on,
    and (c) build deterministically (byte-stable blobs, MTIME=0)."""
    import hashlib
    import zlib

    from slowfast_feature_extractor_spark.sources import warc as W

    rows = [
        (0, "plain ascii payload"),
        (1, "WARC/1.0\r\n\r\nContent-Length: 999\r\n\r\nfake"),
        (2, "café — ümläüts 中文"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rec = W.warc_record(
        F.concat(F.lit("https://x/p/"), F.col("doc_id").cast("string")),
        F.col("text"),
    )

    def build():
        return W.build_shards_gz(
            df, shard=F.lit(0).cast("long"), order=F.col("doc_id"), record=rec
        ).collect()[0]["blob"]

    blob = bytes(build())
    assert bytes(build()) == blob  # deterministic compression

    got = {
        r["url"]: r
        for r in W.parse_shards_gz(
            spark.createDataFrame([(0, blob)], "shard long, blob binary")
        ).collect()
    }
    assert len(got) == 4
    for doc_id, text in rows:
        r = got[f"https://x/p/{doc_id}"]
        assert r["n_bytes"] == len(text.encode("utf-8"))
        assert r["payload_md5"] == hashlib.md5(text.encode("utf-8")).hexdigest()

    # split the blob at member boundaries and inflate the 3rd member alone
    bounds, pos = [0], 0
    while pos < len(blob):
        do = zlib.decompressobj(wbits=31)
        do.decompress(blob[pos:])
        pos = len(blob) - len(do.unused_data)
        bounds.append(pos)
    assert len(bounds) == 5  # 4 members
    third = blob[bounds[2] : bounds[3]]
    rec3 = zlib.decompress(third, wbits=31)
    assert rec3.startswith(b"WARC/1.0") and "中文".encode() in rec3


def test_warc_gz_member_larger_than_chunk(spark):
    """The r7 chunked-feed walker (bounded memoryview slices instead of
    the quadratic `unused_data` re-copy) must still parse a member whose
    inflated record spans many 64 KiB chunks, and walk past it to later
    members."""
    import hashlib
    import zlib

    from slowfast_feature_extractor_spark.sources import warc as W

    def gz(b):
        co = zlib.compressobj(level=6, wbits=31)
        return co.compress(b) + co.flush()

    def rec(url, payload: bytes) -> bytes:
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
            + url
            + b"\r\nContent-Length: "
            + str(len(payload)).encode()
            + b"\r\n\r\n"
            + payload
            + b"\r\n\r\n"
        )

    import os

    big = os.urandom(300_000)  # incompressible: compressed member ≫ 64 KiB
    blob = gz(rec(b"u/small1", b"x")) + gz(rec(b"u/big", big)) + gz(
        rec(b"u/small2", b"yz")
    )
    got = {
        r["url"]: r
        for r in W.parse_shards_gz(
            spark.createDataFrame([(0, blob)], "shard long, blob binary")
        ).collect()
    }
    assert got["u/big"]["n_bytes"] == 300_000
    assert got["u/big"]["payload_md5"] == hashlib.md5(big).hexdigest()
    assert got["u/small1"]["n_bytes"] == 1 and got["u/small2"]["n_bytes"] == 2


def test_warc_gz_rejects_bad_framing(spark):
    """Truncated members and non-record members must raise, not resync."""
    import zlib

    import pytest as _pytest

    from slowfast_feature_extractor_spark.sources import warc as W

    def gz(b):
        co = zlib.compressobj(level=6, wbits=31)
        return co.compress(b) + co.flush()

    ok = gz(b"WARC/1.0\r\nWARC-Target-URI: u\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n")
    for bad_blob in [
        ok[:-3],                     # truncated final member
        gz(b"NOT-A-RECORD"),         # bad magic
        gz(b"WARC/1.0\r\nWARC-Target-URI: u\r\nContent-Length: 9\r\n\r\nhi\r\n\r\n"),
    ]:
        df = spark.createDataFrame([(0, bytes(bad_blob))], "shard long, blob binary")
        with _pytest.raises(Exception):
            W.parse_shards_gz(df).collect()
