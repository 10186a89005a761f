"""WARC ingest: roundtrip, gzip members, HTTP parsing, robustness,
and the Spark scan -> documents -> html extraction chain."""

import gzip

import pytest

from opensmile_spark.warc import (
    parse_warc, read_warc, warc_to_documents, write_warc)


def _recs(n=3):
    return [{"warc_type": "response",
             "target_uri": f"https://ex.org/p{i}",
             "record_id": f"<urn:uuid:{i}>",
             "body": f"<p>page {i}</p>"} for i in range(n)]


@pytest.mark.parametrize("gz", [False, True])
def test_roundtrip(gz):
    data = write_warc(_recs(), gzip_per_record=gz)
    out = list(parse_warc(data))
    assert len(out) == 3
    for i, r in enumerate(out):
        assert r["parse_error"] is None
        assert r["warc_type"] == "response"
        assert r["target_uri"] == f"https://ex.org/p{i}"
        assert r["http_status"] == 200
        assert r["http_content_type"].startswith("text/html")
        assert r["payload"] == f"<p>page {i}</p>".encode()


def test_gzip_members_are_independent():
    data = write_warc(_recs(2), gzip_per_record=True)
    # must be two concatenated gzip members, not one stream
    assert data.count(b"\x1f\x8b\x08") >= 2
    assert len(list(parse_warc(data))) == 2


def test_non_response_records():
    recs = [{"warc_type": "warcinfo", "payload": b"robots: classic\r\n",
             "content_type": "application/warc-fields"},
            {"warc_type": "request", "target_uri": "https://ex.org/",
             "payload": b"GET / HTTP/1.1\r\nHost: ex.org\r\n\r\n",
             "content_type": "application/http; msgtype=request"}]
    out = list(parse_warc(write_warc(recs)))
    assert out[0]["warc_type"] == "warcinfo"
    assert out[0]["http_status"] is None
    assert out[0]["payload"] == b"robots: classic\r\n"
    # request records parse as HTTP but have no status line
    assert out[1]["warc_type"] == "request"


def test_chunked_transfer_decoding():
    body = b"4\r\nWiki\r\n5\r\npedia\r\n0\r\n\r\n"
    head = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n")
    recs = [{"warc_type": "response", "target_uri": "https://ex.org/c",
             "payload": head + body}]
    out = list(parse_warc(write_warc(recs)))
    assert out[0]["payload"] == b"Wikipedia"


def test_truncated_archive_yields_error_row():
    data = write_warc(_recs(2), gzip_per_record=False)
    cut = data[:len(data) - 40]  # cut into record 2's payload
    out = list(parse_warc(cut))
    assert out[0]["parse_error"] is None
    assert out[-1]["parse_error"] is not None


def test_garbage_and_bad_gzip():
    assert list(parse_warc(b"NOT A WARC"))[0]["parse_error"]
    assert list(parse_warc(b"\x1f\x8b" + b"\x00" * 20))[0]["parse_error"]


def test_whole_gzip_stream_also_accepted():
    plain = write_warc(_recs(2), gzip_per_record=False)
    assert len(list(parse_warc(gzip.compress(plain)))) == 2


def test_read_warc_spark(spark, tmp_path):
    for f in range(2):
        p = tmp_path / f"crawl-{f}.warc.gz"
        p.write_bytes(write_warc(
            [{"warc_type": "response",
              "target_uri": f"https://ex.org/f{f}/p{i}",
              "body": f"<h1>T</h1><p>file {f} page {i}</p>"}
             for i in range(3)]))
    df = read_warc(spark, str(tmp_path / "*.warc.gz"))
    assert df.count() == 6
    docs = warc_to_documents(df)
    rows = docs.collect()
    assert len(rows) == 6
    assert all(r["url"].startswith("https://ex.org/") for r in rows)
    assert all(r["html"].startswith("<h1>") for r in rows)


def test_warc_to_documents_filters(spark, tmp_path):
    recs = [
        {"warc_type": "response", "target_uri": "https://ex.org/ok",
         "body": "<p>keep</p>"},
        {"warc_type": "response", "target_uri": "https://ex.org/404",
         "http_status": 404, "body": "<p>gone</p>"},
        {"warc_type": "response", "target_uri": "https://ex.org/img",
         "http_headers": {"Content-Type": "image/png"},
         "body": b"\x89PNG"},
        {"warc_type": "request", "target_uri": "https://ex.org/ok",
         "payload": b"GET /ok HTTP/1.1\r\n\r\n",
         "content_type": "application/http; msgtype=request"},
    ]
    p = tmp_path / "x.warc.gz"
    p.write_bytes(write_warc(recs))
    docs = warc_to_documents(read_warc(spark, str(p))).collect()
    assert len(docs) == 1 and docs[0]["url"] == "https://ex.org/ok"


def test_end_to_end_crawl_chain(spark, tmp_path):
    """WARC -> documents -> html_to_text must recover the same text the
    direct extraction chain produces (the full crawl-ingest story)."""
    from opensmile_spark.htmlops import html_to_text, synth_html
    from opensmile_spark.urlops import normalize_url

    src = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i} content") for i in range(5)],
        "doc_id long, text string")
    pages = synth_html(src).collect()
    p = tmp_path / "c.warc.gz"
    p.write_bytes(write_warc(
        [{"warc_type": "response",
          "target_uri": f"https://Crawl.EX.org//d/{r['doc_id']}"
                        f"?utm_source=x&id={r['doc_id']}",
          "body": r["html"]} for r in pages]))

    docs = warc_to_documents(read_warc(spark, str(p)))
    out = normalize_url(html_to_text(docs, html_col="html", out_col="text"))
    rows = {r["url_norm"]: r["text"] for r in out.collect()}
    # URL canonicalization applied on top of the crawl records
    for k in rows:
        assert k.startswith("https://crawl.ex.org/d/")
        assert "utm_" not in k
    # text equals the direct (no-WARC) extraction
    direct = {r["doc_id"]: r["text"] for r in html_to_text(
        synth_html(src), html_col="html", out_col="text").collect()}
    for i in range(5):
        key = f"https://crawl.ex.org/d/{i}?id={i}"
        assert rows[key] == direct[i]


def test_cli_crawl_inprocess(spark, tmp_path, capsys):
    """The `crawl` CLI subcommand end-to-end: WARC archives in,
    extracted-document parquet out (text + canonical URL + signals)."""
    from opensmile_spark.cli import main

    p = tmp_path / "c.warc.gz"
    p.write_bytes(write_warc(
        [{"warc_type": "response",
          "target_uri": f"https://EX.org/p{i}?utm_source=x&i={i}",
          "body": f"<h1>T{i}</h1><p>body {i}</p>"
                  f'<a href="/next">next</a>'}
         for i in range(4)]))
    out = str(tmp_path / "pages")
    main(["crawl", "--input", str(tmp_path / "*.warc.gz"),
          "--output", out])
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 4
    by = {r["url"]: r for r in rows}
    r = by["https://EX.org/p1?utm_source=x&i=1"]
    assert r["url_norm"] == "https://ex.org/p1?i=1"
    assert r["text"] == "T1\nbody 1\nnext"
    assert r["url_reg_domain"] == "ex.org"
    assert r["link_density"] > 0
    import json as _json
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_pages"] == 4
