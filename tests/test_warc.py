"""WARC crawl-archive ingestion (round 9): record walk, gzip layouts
(whole-stream AND member-per-record — Common Crawl's shape), HTTP
response split, the two-level dead-letter discipline, and the
binaryFile drop-directory path end to end."""

from __future__ import annotations

import gzip

import pytest

from dataingestiontohana_spark.sources.warc import (
    iter_warc_records,
    parse_http_response,
    warc_records,
)


def _rec(wtype: str, payload: bytes, uri: str | None = None) -> bytes:
    head = f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
    if uri:
        head += f"WARC-Target-URI: {uri}\r\n"
    head += f"Content-Length: {len(payload)}\r\n\r\n"
    return head.encode() + payload + b"\r\n\r\n"


HTTP_OK = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi</p>"


def test_record_walk_and_gzip_layouts():
    recs = [_rec("warcinfo", b"x: y\r\n"),
            _rec("response", HTTP_OK, "http://a.test/")]
    plain = b"".join(recs)
    for blob in (
        plain,
        gzip.compress(plain),                       # whole-stream
        b"".join(gzip.compress(r) for r in recs),   # member-per-record
    ):
        got = list(iter_warc_records(blob))
        assert [h["warc-type"] for h, _ in got] == ["warcinfo", "response"]
        status, headers, body = parse_http_response(got[1][1])
        assert status == 200 and body == b"<p>hi</p>"
        assert headers["content-type"] == "text/html"


def test_malformed_structures_raise():
    good = _rec("response", HTTP_OK, "http://a.test/")
    with pytest.raises(ValueError, match="bad version"):
        list(iter_warc_records(b"WARX/9.9\r\nContent-Length: 0\r\n\r\n"))
    with pytest.raises(ValueError, match="Content-Length"):
        list(iter_warc_records(
            b"WARC/1.0\r\nWARC-Type: response\r\n\r\n"))
    with pytest.raises(ValueError, match="past the stream"):
        list(iter_warc_records(good[: len(good) - 12]))
    with pytest.raises(ValueError, match="separator"):
        parse_http_response(b"HTTP/1.1 200 OK\r\nno-blank-line")


def test_two_level_dead_letter(spark):
    """A record whose HTTP payload is malformed quarantines THAT
    record (siblings parse); a structurally broken FILE emits one
    rec_idx=-1 quarantine row."""
    good = _rec("response", HTTP_OK, "http://a.test/ok")
    bad_http = _rec("response", b"not an http response", "http://a.test/bad")
    fine_file = good + bad_http + good
    broken_file = good[:20]  # truncated mid-header
    df = spark.createDataFrame(
        [(1, bytearray(fine_file)), (2, bytearray(broken_file))],
        "file_id long, content binary",
    ).coalesce(1)
    rows = {(r["file_id"], r["rec_idx"]): r
            for r in warc_records(df).collect()}
    assert rows[(1, 0)]["http_status"] == 200
    assert rows[(1, 2)]["http_status"] == 200
    assert rows[(1, 1)]["parse_error"].startswith("ValueError")
    assert rows[(1, 1)]["target_uri"] == "http://a.test/bad"
    assert rows[(2, -1)]["parse_error"]  # file-level quarantine
    assert len(rows) == 4


def test_binaryfile_drop_directory_end_to_end(spark, tmp_path):
    """The production read path: .warc/.warc.gz files on disk through
    binaryFile -> warc_records -> strip_html, one map-only stage."""
    from pyspark.sql import functions as F

    from dataingestiontohana_spark.functions.text import strip_html

    recs = [_rec("response",
                 b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                 b"<html><body><p>alpha beta</p></body></html>",
                 "http://d.test/x")]
    (tmp_path / "a.warc").write_bytes(b"".join(recs))
    (tmp_path / "b.warc.gz").write_bytes(
        b"".join(gzip.compress(r) for r in recs))
    files = (
        spark.read.format("binaryFile")
        .load(str(tmp_path))
        .select(
            F.abs(F.xxhash64("path")).alias("file_id"),
            "content",
        )
    )
    out = (
        warc_records(files)
        .where(F.col("http_status") == 200)
        .select(strip_html(F.decode(F.col("body"), "UTF-8")).alias("t"))
        .collect()
    )
    assert [r["t"] for r in out] == ["alpha beta", "alpha beta"]


def test_streaming_parse_is_memory_bounded():
    """r9 verdict item 3: records must be yielded AS the gzip stream
    inflates — peak memory one record, never the whole inflated
    archive. Synthetic multi-member archive: 160 members x 256 KiB of
    highly-compressible payload (~40 MiB inflated). tracemalloc peak
    while walking it (consuming records one at a time) must stay an
    order of magnitude below the inflated size."""
    import hashlib
    import tracemalloc

    member = gzip.compress(_rec(
        "response",
        b"HTTP/1.1 200 OK\r\n\r\n" + b"a" * (256 * 1024),
        "http://big.test/",
    ))
    blob = member * 160
    inflated = 160 * 256 * 1024

    tracemalloc.start()
    base = tracemalloc.get_traced_memory()[0]
    n = 0
    digest = hashlib.md5()
    for hdrs, payload in iter_warc_records(blob):
        n += 1
        digest.update(payload[-32:])
    peak = tracemalloc.get_traced_memory()[1]
    tracemalloc.stop()
    assert n == 160
    assert peak - base < inflated / 8, (
        f"peak {peak - base} bytes vs inflated {inflated}"
    )


def test_streaming_parse_accepts_file_object():
    """The parser reads from a binary file object without ever being
    handed the whole archive as one bytes value (the 100 TB path:
    stream straight off the storage layer)."""
    import io

    recs = [_rec("warcinfo", b"k: v\r\n"),
            _rec("response", HTTP_OK, "http://a.test/")]
    fh = io.BytesIO(gzip.compress(b"".join(recs)))
    got = list(iter_warc_records(fh))
    assert [h["warc-type"] for h, _ in got] == ["warcinfo", "response"]


def test_unterminated_header_block_is_capped():
    """A corrupt stream with no CRLFCRLF must fail at the 1 MiB header
    cap — the bound that makes the streaming parser's memory guarantee
    unconditional — not buffer the whole archive hunting for it."""
    blob = b"WARC/1.0\r\nContent-Length: 3\r\n" + b"x" * (2 << 20)
    with pytest.raises(ValueError, match="unterminated"):
        list(iter_warc_records(blob))


def test_streaming_parse_accepts_non_seekable_stream():
    """The magic peek must not require seek(): a pipe-like reader
    (read-only, no seek) parses both plain and gzip archives."""
    class _Pipe:
        def __init__(self, b):
            self._b = b
            self._i = 0

        def read(self, n=-1):
            if n is None or n < 0:
                out = self._b[self._i:]
                self._i = len(self._b)
                return out
            out = self._b[self._i : self._i + n]
            self._i += len(out)
            return out

    recs = [_rec("warcinfo", b"k: v\r\n"),
            _rec("response", HTTP_OK, "http://a.test/")]
    for blob in (b"".join(recs), gzip.compress(b"".join(recs))):
        got = list(iter_warc_records(_Pipe(blob)))
        assert [h["warc-type"] for h, _ in got] == ["warcinfo", "response"]


def test_mid_file_corruption_keeps_prefix_and_quarantines_remainder(spark):
    """r10: structural corruption AFTER well-formed records keeps the
    validated prefix rows and quarantines the remainder (rec_idx -1) —
    chunked emission cannot retract already-streamed rows, and the
    prefix boundaries were length-validated. Chunk flushing itself is
    exercised with a 2-row chunk size."""
    good = _rec("response", HTTP_OK, "http://a.test/ok")
    blob = good + good + good[:25]  # third record truncated mid-header
    df = spark.createDataFrame(
        [(7, bytearray(blob))], "file_id long, content binary"
    ).coalesce(1)
    rows = sorted(
        (r["rec_idx"], r["parse_error"] is None)
        for r in warc_records(df, rows_per_chunk=2).collect()
    )
    assert rows == [(-1, False), (0, True), (1, True)]


def test_charset_resolution_whatwg_order():
    """r11: the WHATWG sniff ladder — BOM > HTTP header charset >
    <meta> declaration > UTF-8 default — and the ISO-8859-1 ->
    windows-1252 alias, pinned against stdlib codecs as the
    independent encoder."""
    from dataingestiontohana_spark.sources.warc import resolve_charset

    # header param (quoted, spaced, uppercase)
    assert resolve_charset('text/html; charset="GBK"', b"x") == "gbk"
    assert resolve_charset("text/html;charset= Shift_JIS", b"x") == (
        "shift_jis"
    )
    # WHATWG alias: 8859-1-family labels decode as cp1252
    for label in ("iso-8859-1", "latin-1", "US-ASCII"):
        assert resolve_charset(f"text/html; charset={label}", b"x") == (
            "cp1252"
        )
    # meta sniff (both element forms), only without a header charset
    body = b'<html><head><meta charset=shift_jis></head><body>'
    assert resolve_charset("text/html", body) == "shift_jis"
    body2 = (b'<head><meta http-equiv="Content-Type" '
             b'content="text/html; charset=gbk"></head>')
    assert resolve_charset(None, body2) == "gbk"
    assert resolve_charset("text/html; charset=cp1251", body) == (
        "cp1251"  # header wins over meta
    )
    # BOM beats everything
    assert resolve_charset("text/html; charset=iso-8859-1",
                           b"\xef\xbb\xbfabc") == "utf-8-sig"
    assert resolve_charset(None, b"\xff\xfea\x00") == "utf-16"
    # WHATWG meta prescan: utf-16 meta labels remap to UTF-8 (a meta
    # could only be ASCII-sniffed because the doc is NOT utf-16;
    # r11 review — decoding ASCII as utf-16 makes silent CJK mojibake)
    assert resolve_charset("text/html",
                           b"<meta charset=utf-16>hello") == "utf-8"
    assert resolve_charset(None,
                           b'<meta charset="UTF-16LE">x') == "utf-8"
    # ...but an HTTP-header utf-16 declaration is honored (transport
    # knows the real encoding) and a BOM decides before either
    assert resolve_charset("text/html; charset=utf-16",
                           b"\xff\xfeh\x00") == "utf-16"
    # unknown labels fall through to the next rung
    assert resolve_charset("text/html; charset=klingon",
                           b"<meta charset=gbk>") == "gbk"
    assert resolve_charset("text/html; charset=klingon", b"") == "utf-8"
    assert resolve_charset(None, b"plain") == "utf-8"


def test_hostile_charset_labels_degrade_to_utf8():
    """r12 ADVICE (high): codecs.lookup() resolves non-text codecs
    (zip/zlib/rot13/hex/base64/quopri/uu/bz2) and errors-handler-
    ignoring text codecs (idna/punycode) from the charset-label
    regex; bytes.decode then raises LookupError/UnicodeError INSIDE
    the pandas UDF, failing the whole ingest on one crafted page.
    Every such label must fall through to the UTF-8 default — and
    utf-7 (WHATWG-banned for markup smuggling) joins them."""
    from dataingestiontohana_spark.sources.warc import resolve_charset

    hostile = ("zip", "zlib", "rot13", "rot-13", "hex", "base64",
               "base-64", "quopri", "uu", "bz2", "idna", "punycode",
               "utf-7", "unicode-1-1-utf-7")
    body = b"\x80 crafted page \xff"
    for label in hostile:
        enc = resolve_charset(f"text/html; charset={label}", body)
        assert enc == "utf-8", (label, enc)
        enc = resolve_charset(
            "text/html", b"<meta charset=%s>x" % label.encode()
        )
        assert enc == "utf-8", ("meta", label, enc)
        # the resolved codec must actually decode hostile bytes
        body.decode(enc, "replace")


def test_hostile_charset_labels_do_not_fail_spark_decode(spark):
    """The full decode_crawl_text path survives a crafted
    charset=zlib header (the exact ADVICE repro) and yields the
    page's UTF-8-replace text instead of failing the task."""
    from dataingestiontohana_spark.sources.warc import (
        decode_crawl_text,
        warc_records,
    )

    recs = []
    for label in ("zlib", "punycode", "utf-7"):
        payload = (
            f"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
            f"charset={label}\r\n\r\n".encode()
            + b"<p>hostile \x80 page</p>"
        )
        recs.append(_rec("response", payload, "http://evil.test/x"))
    df = spark.createDataFrame(
        [(1, bytearray(b"".join(recs)))], "file_id long, content binary"
    ).coalesce(1)
    rows = decode_crawl_text(
        warc_records(df), charset_col="charset"
    ).orderBy("rec_idx").collect()
    assert len(rows) == 3
    for r in rows:
        # the hostile label falls through the ladder; the r12 content
        # sniffer then classifies the \x80 byte as cp1252 (€) — the
        # invariant is NO CRASH and readable text, not utf-8 per se
        assert r["charset"] == "cp1252"
        assert "hostile" in r["text"] and "page" in r["text"]
        assert "€" in r["text"]


def test_charset_aware_decode_is_mojibake_free(spark):
    """r11 verdict item 2: non-UTF-8 pages decode to their exact
    unicode text (stdlib-encoded bodies are the independent
    reference); the r10 behavior would have produced U+FFFD. Also
    pins content_type capture and the BOM-overrides-wrong-header
    precedence through the full Spark path."""
    from pyspark.sql import functions as F

    from dataingestiontohana_spark.sources.warc import (
        decode_crawl_text,
        warc_records,
    )

    docs = [
        ("text/html; charset=windows-1252", "cp1252", "café € ñ"),
        ("text/html", "shift_jis",
         "<meta charset=shift_jis>日本語"),
        ("text/html; charset=iso-8859-1", "utf-8-sig", "naïve"),
        ("text/html", "utf-8", "plain ascii"),
    ]
    recs = []
    for ct, codec, text in docs:
        body = f"<p>{text}</p>".encode(codec)
        payload = (
            f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n\r\n".encode()
            + body
        )
        recs.append(_rec("response", payload, "http://c.test/x"))
    df = spark.createDataFrame(
        [(1, bytearray(b"".join(recs)))], "file_id long, content binary"
    ).coalesce(1)
    out = decode_crawl_text(warc_records(df)).orderBy("rec_idx").collect()
    texts = [r["text"] for r in out]
    assert texts[0] == "<p>café € ñ</p>"
    assert texts[1] == "<p><meta charset=shift_jis>日本語</p>"
    assert texts[2] == "<p>naïve</p>"  # BOM consumed, header ignored
    assert texts[3] == "<p>plain ascii</p>"
    assert all("�" not in t for t in texts)
    assert out[0]["content_type"] == "text/html; charset=windows-1252"
    # a NULL body (non-response record) stays NULL through the decode
    null_rows = decode_crawl_text(warc_records(df)).where(
        F.col("body").isNull()
    )
    assert all(r["text"] is None for r in null_rows.collect())


def test_content_sniffing_charset_fallback():
    """r12 verdict item 3: when the WHATWG ladder bottoms out (no
    BOM, no header charset, no <meta>) and the bytes do not validate
    as UTF-8, the deterministic validity + script-coherence detector
    classifies shift_jis / gbk / cp1252 — each pinned against the
    stdlib codec as the independent encoder. Ambiguity rules: valid
    UTF-8 (incl. pure ASCII) stays utf-8; a declaration always wins
    over the sniff; unclassifiable bytes fall back to utf-8."""
    from dataingestiontohana_spark.sources.warc import (
        resolve_charset,
        sniff_charset,
    )

    cases = [
        ("宣言のない日本語ページです", "shift_jis"),
        ("没有声明的中文页面内容", "gbk"),
        ("smörgåsbord à la café — très bien €5", "cp1252"),
        ("déjà vu naïveté", "cp1252"),
        ("日本語と漢字の混在したページ", "shift_jis"),
        ("plain ascii only", "utf-8"),
        ("über straße 日本 — valid utf-8", "utf-8"),
    ]
    for text, enc in cases:
        body = f"<html><body><p>{text}</p></body></html>".encode(enc)
        assert resolve_charset("text/html", body) == enc, (text, enc)
        assert body.decode(enc) == f"<html><body><p>{text}</p></body></html>"
    # a long ASCII head must not hide the evidence window
    body = (b"<head>" + b"x" * 5000 + b"</head>"
            + "日本語の本文です".encode("shift_jis"))
    assert sniff_charset(body) == "shift_jis"
    # declarations still outrank the sniff
    assert resolve_charset(
        "text/html; charset=cp1251", "日本".encode("shift_jis")
    ) == "cp1251"
    assert resolve_charset(
        "text/html", b"<meta charset=gbk>" + "texte français".encode("cp1252")
    ) == "gbk"
    # unclassifiable high-byte soup: utf-8/replace, never a crash
    assert sniff_charset(bytes(range(0x80, 0xA0)) * 4) == "utf-8"
    assert sniff_charset(b"") == "utf-8"
    # truncation at the window edge never splits a sequence into a
    # false rejection
    body = ("x" * 20 + "あ" * 4000).encode("shift_jis")
    assert sniff_charset(body) == "shift_jis"


def test_content_sniffing_all_six_families():
    """r12 second pass: euc_jp / big5 / cp1251 join the sniffer, each
    with its deterministic discriminator — euc_jp requires kana (a
    kana-free euc parse is a GB2312 page: both are A1-FE grids and
    GB2312 copies the JIS kana rows), big5 earns a bonus per
    low-trail (0x40-0x7E) unit (absent from GB2312 text, ~half of
    real Big5), cp1251 requires lowercase-dominant Cyrillic in runs
    of >=3 (CJK-as-cp1251 mojibake draws case uniformly; Latin-accent
    pages never have adjacent high bytes)."""
    from dataingestiontohana_spark.sources.warc import resolve_charset

    cases = [
        ("日本語のページ、ひらがなとカタカナと漢字", "euc_jp"),
        ("简体中文网页测试内容没有任何字符集声明", "gbk"),
        ("繁體中文網頁測試內容完全沒有字符集聲明", "big5"),
        ("這是一個使用傳統字符的頁面", "big5"),
        ("русский текст без объявления кодировки", "cp1251"),
        ("Новости дня: погода и курс валют", "cp1251"),
        # the confusion set: each of these is structurally valid
        # under several candidates and must still land right
        ("宣言のない日本語ページです", "shift_jis"),
        ("déjà vu naïveté", "cp1252"),
    ]
    for text, enc in cases:
        body = f"<html><body><p>{text}</p></body></html>".encode(enc)
        got = resolve_charset("text/html", body)
        assert got == enc, (text, enc, got)
        assert body.decode(got) == (
            f"<html><body><p>{text}</p></body></html>"
        )


def test_content_sniffing_koi8r_and_euc_kr():
    """r12 third pass: the sniffer covers all EIGHT major crawl
    families. koi8_r joins via the shared Russian-prose gates (its
    case halves are INVERTED vs cp1251, so the lowercase-dominance
    gate picks exactly the right Cyrillic encoding) plus a
    box-symbol gate (koi8's 0x80-0xBF zone is box drawings — where
    CJK trail bytes land — and real Russian uses none). euc_kr joins
    via Hangul dominance over ideographs AND the spaced-run gate
    (Korean breaks every few syllables; Chinese mis-parses keep
    their unspaced runs). Kana now counts only for the Japanese
    candidates (GB2312 rows A4/A5 and Big5's symbol area contain
    kana, which previously let a Chinese page's mis-parse steal the
    +3 Japanese bonus)."""
    from dataingestiontohana_spark.sources.warc import resolve_charset

    cases = [
        ("한국어 문서 선언 없는 페이지 내용입니다", "euc_kr"),
        ("서울의 날씨와 교통 정보를 제공합니다", "euc_kr"),
        ("대한민국 서울특별시의 오늘 주요 뉴스", "euc_kr"),
        ("русский текст без объявления кодировки", "koi8_r"),
        ("Новости дня: погода и курс валют сегодня", "koi8_r"),
        # the confusion set: the same Russian text in cp1251 must
        # still land cp1251 (case halves decide), common-hanzi
        # Chinese must not become euc_kr or big5, and Japanese
        # keeps beating the Chinese candidates
        ("русский текст без объявления кодировки", "cp1251"),
        ("中华人民共和国北京市今日新闻内容摘要", "gbk"),
        ("北京上海广州深圳的天气预报信息", "gbk"),
        ("繁體中文網頁測試內容完全沒有字符集聲明", "big5"),
        ("日本語のページ、ひらがなとカタカナと漢字", "euc_jp"),
        ("宣言のない日本語ページです", "shift_jis"),
    ]
    for text, enc in cases:
        body = f"<html><body><p>{text}</p></body></html>".encode(enc)
        got = resolve_charset("text/html", body)
        assert got == enc, (text, enc, got)
        assert body.decode(got) == (
            f"<html><body><p>{text}</p></body></html>"
        )
