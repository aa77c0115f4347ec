"""WARC ingestion (round 9): the Web ARChive container — the format
Common Crawl and every serious web corpus ship in — parsed pure-stdlib
into one row per record, with HTTP response payloads split into
status/headers/body so the HTML-extraction operator
(`functions/text.py::strip_html`) turns a crawl file into `documents`
rows in one map-only pass.

Reference parity: the reference ingests CSV files into a pipeline
(`README.md:8-13`); a training-data deployment of the same engine
ingests crawl archives — this module is that source, with the same
malformed-record discipline (a corrupt record lands a quarantine row
carrying `parse_error`; the file's remaining records still parse).

Scale shape: WARC files are independent units — `binaryFile` +
`mapInPandas` parses each file inside one task with zero shuffle, so
a 100 TB crawl parallelizes by file exactly like Common Crawl's own
processing; gzip members decompress streamwise (multi-member
`GzipFile`, the member-per-record layout CC uses) and records are
yielded AS the stream inflates (r9 verdict item 3) — per-task peak
memory is one record (header block capped at 1 MiB + its
Content-Length body) plus zlib window state, never the whole inflated
archive (a 1 GB CC archive would otherwise hold ~4-5 GB in the Python
worker on top of the binaryFile blob row). Record payloads never pass
through Python row-at-a-time — whole Arrow batches of file blobs in,
record rows out, FLUSHED IN BOUNDED CHUNKS (r10: `warc_records` emits
every 256 records / 32 MiB of bodies, so the parser's memory bound
survives the operator instead of dying in a list()). The residual
per-task peak is therefore the binaryFile blob itself plus one output
chunk plus max(record); for blob-frame Arrow batch sizing at scale
see SCALING.md.
"""

from __future__ import annotations

import gzip
import io
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CRLF = b"\r\n"
# A WARC record header block (version line + named headers) is a few
# hundred bytes in practice; 1 MiB of header without the terminating
# blank line means the stream is not framing records and boundaries
# cannot be trusted. The cap is what makes the streaming parser's
# memory bound unconditional — without it a corrupt stream degrades
# to buffering the whole archive hunting for CRLFCRLF.
_MAX_HEADER_BLOCK = 1 << 20
_READ_CHUNK = 1 << 16


class _Prepended:
    """Read-only stream that serves ``head`` bytes before delegating
    to the underlying file object — the seek-free way to un-read a
    sniffed magic number (GzipFile only ever calls read)."""

    def __init__(self, head: bytes, fh) -> None:
        self._head = head
        self._fh = fh

    def read(self, n: int = -1) -> bytes:
        if self._head:
            if n is None or n < 0:
                out = self._head + self._fh.read()
                self._head = b""
                return out
            out = self._head[:n]
            self._head = self._head[n:]
            if len(out) < n:
                out += self._fh.read(n - len(out))
            return out
        return self._fh.read(n)


class _Buffered:
    """Minimal incremental reader over a binary stream: `read_until`
    and `read_exact` against an internal buffer that only ever holds
    the current record's worth of data."""

    def __init__(self, fh) -> None:
        self._fh = fh
        self._buf = bytearray()

    def _fill(self) -> bool:
        chunk = self._fh.read(_READ_CHUNK)
        if not chunk:
            return False
        self._buf += chunk
        return True

    def skip_crlfs(self) -> bool:
        """Consume leading CRLF pairs; False = clean end of stream."""
        while True:
            while len(self._buf) < 2:
                if not self._fill():
                    return bool(self._buf)
            if self._buf[:2] == _CRLF:
                del self._buf[:2]
            else:
                return True

    def read_until_blank_line(self) -> bytes:
        """Bytes up to (excluding) the first CRLFCRLF, which is
        consumed. ValueError past the header cap or at EOF."""
        start = 0
        while True:
            at = self._buf.find(_CRLF + _CRLF, start)
            if at >= 0:
                head = bytes(self._buf[:at])
                del self._buf[: at + 4]
                return head
            if len(self._buf) > _MAX_HEADER_BLOCK:
                raise ValueError("WARC: unterminated record header block")
            start = max(0, len(self._buf) - 3)
            if not self._fill():
                raise ValueError("WARC: unterminated record header block")

    def read_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            if not self._fill():
                raise ValueError("WARC: payload extends past the stream")
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out


def iter_warc_records(data) -> Iterator[tuple[dict, bytes]]:
    """Walk a (possibly gzipped) WARC stream -> (headers, payload)
    per record, STREAMING: accepts bytes or a binary file object,
    inflates gzip incrementally (multi-member transparent — the
    member-per-record layout real crawls use), and holds at most one
    record in memory at a time. Header names are lower-cased; the
    version line is validated; payload length comes from
    Content-Length (mandatory per the spec). Malformed structure
    raises ValueError — the caller decides whether that quarantines
    the record or the file."""
    if isinstance(data, (bytes, bytearray, memoryview)):
        fh = io.BytesIO(bytes(data))
    else:
        fh = data
    # magic peek without requiring a seekable stream (the
    # straight-off-storage path hands sockets/pipes): push the two
    # sniffed bytes back via a prepending reader
    magic = fh.read(2)
    fh = _Prepended(magic, fh)
    if magic == b"\x1f\x8b":
        fh = gzip.GzipFile(fileobj=fh)
    buf = _Buffered(fh)
    while True:
        if not buf.skip_crlfs():
            return
        head = (
            buf.read_until_blank_line()
            .decode("utf-8", "replace")
            .split("\r\n")
        )
        if not head[0].startswith("WARC/"):
            raise ValueError(
                f"WARC: bad version line {head[0][:40]!r}"
            )
        headers: dict[str, str] = {}
        for line in head[1:]:
            k, sep, v = line.partition(":")
            if not sep:
                raise ValueError(f"WARC: malformed header {line[:40]!r}")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as ex:
            raise ValueError("WARC: missing/bad Content-Length") from ex
        yield headers, buf.read_exact(length)


def parse_http_response(payload: bytes) -> tuple[int, dict, bytes]:
    """HTTP/1.x response payload -> (status, headers, body)."""
    split = payload.find(_CRLF + _CRLF)
    if split < 0:
        raise ValueError("HTTP: no header/body separator")
    head = payload[:split].decode("utf-8", "replace").split("\r\n")
    parts = head[0].split(" ", 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"HTTP: bad status line {head[0][:40]!r}")
    try:
        status = int(parts[1])
    except ValueError as ex:
        raise ValueError(f"HTTP: bad status {parts[1][:12]!r}") from ex
    headers: dict[str, str] = {}
    for line in head[1:]:
        k, sep, v = line.partition(":")
        if sep:
            headers[k.strip().lower()] = v.strip()
    return status, headers, payload[split + 4 :]


WARC_RECORD_SCHEMA = (
    "file_id long, rec_idx int, warc_type string, target_uri string, "
    "http_status int, content_type string, n_payload_bytes int, "
    "n_body_bytes int, body binary, parse_error string"
)


# -- charset-aware text extraction (round 11) -------------------------
#
# A real Common Crawl slice is several percent non-UTF-8 (latin-1 /
# windows-1252 / gbk / shift_jis); decoding everything as UTF-8 fills
# those pages with U+FFFD mojibake that silently poisons downstream
# dedup shingles and quality stats. Resolution follows the WHATWG
# encoding sniff order a browser applies: BOM, then the transport
# (HTTP Content-Type charset=), then an in-document <meta> declaration
# within the first 1024 bytes, then the UTF-8 default.

_META_CHARSET_RE = re.compile(
    # both <meta charset=X> and
    # <meta http-equiv=Content-Type content="text/html; charset=X">:
    # the charset= attribute/param is the common load-bearing token
    rb"""<meta[^>]{0,512}?charset\s*=\s*["']?\s*([a-zA-Z0-9_.:\-]+)""",
    re.IGNORECASE,
)
_HDR_CHARSET_RE = re.compile(
    r"""charset\s*=\s*"?\s*([a-zA-Z0-9_.:\-]+)""", re.IGNORECASE
)
# WHATWG maps the ISO-8859-1 family label onto windows-1252 (its
# strict superset on the bytes real pages actually use, 0x80-0x9F
# included) — the single most common mislabel in crawl data
_WHATWG_ALIASES = {
    "iso-8859-1": "windows-1252",
    "iso8859-1": "windows-1252",
    "latin-1": "windows-1252",
    "latin1": "windows-1252",
    "ascii": "windows-1252",
    "us-ascii": "windows-1252",
}


def _known_codec(label: str | None) -> str | None:
    """Normalized python codec name for a charset label, or None when
    the label is absent/unknown/hostile (the sniff falls through).

    codecs.lookup() resolves MORE than text encodings: bytes-to-bytes
    transforms (zip/zlib/bz2/hex/base64/quopri/uu) and one-way text
    codecs (rot13) match the charset-label regex but raise LookupError
    or TypeError inside bytes.decode — and idna/punycode decode raises
    UnicodeError regardless of errors='replace'. A crafted
    `charset=zlib` header or <meta> must degrade to the UTF-8 default,
    never fail the Spark task (untrusted-payload no-crash contract),
    so a label only survives when (a) the codec self-identifies as a
    text encoding, (b) it is not in the WHATWG-excluded set (utf-7 is
    banned there for markup-smuggling; idna/punycode are RFC 3490
    transforms, not page charsets), and (c) a probe decode with the
    replace handler actually returns."""
    import codecs

    if not label:
        return None
    name = _WHATWG_ALIASES.get(label.strip().lower(), label.strip())
    try:
        info = codecs.lookup(name)
    except LookupError:
        return None
    if not getattr(info, "_is_text_encoding", True):
        return None
    if info.name in ("idna", "punycode", "utf-7"):
        return None
    try:
        b"\x80\x00ab".decode(info.name, "replace")
    except Exception:
        return None
    return info.name


# r12 (verdict item 3): content-sniffing fallback. The WHATWG ladder
# ends at the UTF-8 default, so a legacy page that declares NOTHING
# (no BOM, no header charset, no <meta>) still mojibaked. When the
# bottom rung is reached and the bytes do not validate as UTF-8, a
# deterministic validity + script-coherence classifier picks among
# the legacy families that dominate real crawls: shift_jis, euc_jp,
# gbk, big5, cp1252, cp1251. The decision is exact and replayable
# (no ML model):
# strict-decode validity eliminates structurally impossible codecs
# (cp1252 text virtually never validates as shift_jis — accented
# Latin high bytes make illegal lead/trail pairs), and the script
# score separates the structurally ambiguous CJK pair: GBK-encoded
# Chinese decoded as shift_jis turns its B0-F7 lead bytes into
# HALF-width katakana spam (sjis single-byte A1-DF), while real
# Japanese text carries FULL-width kana (sjis 82xx/83xx) — so full
# kana score +3, half-width kana -1, ideographs +2, accented Latin
# +2, C0/C1 controls and U+FFFD -4. Ties keep the earlier candidate
# (fixed priority shift_jis > gbk > cp1252: a multi-byte structural
# match is rarer by chance than the almost-total cp1252 byte map).
_SNIFF_LIMIT = 4096  # bytes examined; WHATWG's prescan idea, wider
_CP1252_PUNCT = frozenset(
    ord(c) for c in "€‚ƒ„…†‡"
    "ˆ‰Š‹ŒŽ‘’“”"
    "•–—˜™š›œžŸ"
)


def _script_score(text: str, kana_weight: int = 3) -> int:
    score = 0
    t = text[:2048]
    for i, ch in enumerate(t):
        o = ord(ch)
        if 0x3040 <= o <= 0x30FF:
            # full-width kana: the Japanese tell — but only as
            # evidence FOR the Japanese candidates (r12: GB2312 rows
            # A4/A5 and Big5's symbol area both contain kana, so a
            # Chinese mis-parse can surface stray kana; a kana-heavy
            # page is Japanese and the sjis/euc_jp candidates claim
            # it with the full weight)
            score += kana_weight
        elif 0xAC00 <= o <= 0xD7A3:
            score += 3  # Hangul syllables: the Korean tell (r12 —
            # outweighs the +2/char a GBK mis-parse of the same
            # bytes collects as ideograph soup)
        elif 0x4E00 <= o <= 0x9FFF or 0x3400 <= o <= 0x4DBF:
            score += 2  # unified ideographs
        elif 0x0400 <= o <= 0x045F:
            score += 2  # Cyrillic letters (r12: cp1251 family)
        elif 0x3000 <= o <= 0x303F or 0xFF01 <= o <= 0xFF60:
            score += 1  # CJK punctuation / fullwidth forms
        elif 0xFF61 <= o <= 0xFF9F:
            score -= 1  # half-width katakana: the GBK-as-SJIS artifact
        elif 0xC0 <= o <= 0x17F and o not in (0xD7, 0xF7):
            # accented Latin scores by CONTEXT: real western text has
            # sparse accents inside ASCII words ('café', 'straße') —
            # +2 next to an ASCII letter; CJK-as-cp1252 mojibake is a
            # DENSE run of accented capitals ('Ã»ÓÐÈÎ') — -1 in a run
            prev_ascii = i > 0 and t[i - 1].isascii() and t[i - 1].isalpha()
            next_ascii = (
                i + 1 < len(t) and t[i + 1].isascii() and t[i + 1].isalpha()
            )
            score += 2 if (prev_ascii or next_ascii) else -1
        elif o in _CP1252_PUNCT:
            score += 1
        elif o == 0xFFFD or 0x7F <= o <= 0x9F or (
            o < 0x20 and ch not in "\t\r\n"
        ):
            score -= 4
    return score


def _strict_sample_decode(
    sample: bytes, enc: str, truncated: bool
) -> str | None:
    """Strict decode of the sniff sample; a decode error inside the
    last 3 bytes of a TRUNCATED sample is a cut multi-byte sequence,
    not evidence against the codec — retry on the clean prefix."""
    try:
        return sample.decode(enc, "strict")
    except UnicodeDecodeError as ex:
        if truncated and ex.start >= len(sample) - 3:
            try:
                return sample[: ex.start].decode(enc, "strict")
            except UnicodeDecodeError:
                return None
        return None


def sniff_charset(body: bytes) -> str:
    """Deterministic charset detection for a declaration-less body:
    'utf-8' when the bytes validate (ASCII included — multi-byte
    UTF-8 essentially never validates by accident), else the
    best-scoring legacy candidate, else 'utf-8' (replace handler
    upstream keeps the decodable majority)."""
    if not body:
        return "utf-8"
    try:
        body.decode("utf-8", "strict")
        return "utf-8"
    except UnicodeDecodeError:
        pass
    # window the sample AROUND the first non-ASCII byte (a long ASCII
    # <head> would otherwise hide all the evidence): every byte before
    # it is ASCII, so the window start is sequence-aligned for any
    # candidate, and 32 leading ASCII bytes keep adjacency context
    first_hi = next(i for i, x in enumerate(body) if x >= 0x80)
    start = max(0, first_hi - 32)
    sample = bytes(body[start : start + _SNIFF_LIMIT])
    truncated = start + _SNIFF_LIMIT < len(body)
    best, best_score = "utf-8", 0
    for enc in ("shift_jis", "euc_jp", "gbk", "big5", "euc_kr",
                "cp1252", "cp1251", "koi8_r"):
        text = _strict_sample_decode(sample, enc, truncated)
        if text is None:
            continue
        score = _script_score(
            text,
            kana_weight=3 if enc in ("shift_jis", "euc_jp") else 0,
        )
        if enc == "euc_kr":
            # the kana-gate argument transposed (r12): EUC-KR shares
            # the A1-FE x A1-FE grid with GB2312/EUC-JP, but real
            # Korean text is HANGUL-DOMINANT (KS X 1001 rows B0-C8;
            # modern Korean prose uses hanja sparingly), while a
            # Chinese page mis-parsed under the KS grid scatters its
            # B0-F7 leads ~1/3 into the Hangul rows and ~2/3 into
            # the hanja rows — so requiring Hangul to outnumber
            # ideographs 2:1 rejects the mis-parse deterministically,
            # and a Hangul-free parse is not Korean at all
            # ... and Korean is a SPACED language (the decisive
            # structural tell): prose breaks every few syllables,
            # while Chinese runs unspaced — GB level-1 hanzi rows
            # (B0-D7, pinyin-sorted common characters) overlap the
            # KS Hangul rows (B0-C8) so heavily that a ratio gate
            # alone cannot reject a common-hanzi page. A mis-parse
            # keeps the source's unspaced runs; cap them at 8.
            hangul = ideo = run = best_run = 0
            for c in text[:2048]:
                o = ord(c)
                cjk = False
                if 0xAC00 <= o <= 0xD7A3:
                    hangul += 1
                    cjk = True
                elif 0x4E00 <= o <= 0x9FFF or 0x3400 <= o <= 0x4DBF:
                    ideo += 1
                    cjk = True
                run = run + 1 if cjk else 0
                best_run = max(best_run, run)
            if hangul == 0 or hangul < 2 * ideo or best_run > 8:
                continue
        if enc == "euc_jp" and not any(
            0x3040 <= ord(c) <= 0x30FF for c in text[:2048]
        ):
            # EUC-JP vs GB2312 is undecidable by structure alone
            # (both are A1-FE x A1-FE grids, and GB2312 even copies
            # the JIS kana rows) — but real Japanese text ALWAYS
            # carries kana, while Chinese text never lands in the
            # kana rows; a kana-free euc_jp parse is a GB2312 page
            continue
        if enc in ("cp1251", "koi8_r"):
            # (r12: the same three Russian-prose gates adjudicate
            # koi8_r — the OTHER dominant Cyrillic encoding, whose
            # case halves are INVERTED vs cp1251: lowercase at
            # 0xC0-0xDF, uppercase at 0xE0-0xFF. Lowercase-dominant
            # Russian prose in one encoding decodes UPPERCASE-
            # dominant under the other, so the lowercase gate picks
            # exactly the right one and the loser is rejected here.)
            # cp1251 maps EVERY 0xC0-0xFF byte to a Cyrillic letter,
            # so any CJK byte soup parses as dense Cyrillic. Two
            # properties separate real Russian prose from that
            # mojibake, both deterministic: (a) prose is LOWERCASE-
            # dominant (mojibake draws upper/lower uniformly from the
            # C0-DF/E0-FF halves), (b) Cyrillic words are unbroken
            # runs of >=3 letters (Latin-script text with accents —
            # café, naïve — never has even two adjacent high bytes).
            # ... and (c) its letters are the CORE Russian alphabet
            # (а-я А-Я Ёё): mojibake scatters into cp1251's 0x80-0xBF
            # extension letters (Ђ Љ Њ ђ љ џ ...) — SJIS leads land
            # there ~half the time — while real Russian prose almost
            # never uses them (documented Russian-core bias: cp1251's
            # dominant real-world use).
            cyr = [ord(c) for c in text[:2048]
                   if 0x0400 <= ord(c) <= 0x04FF]
            core = [o for o in cyr
                    if 0x0410 <= o <= 0x044F or o in (0x0401, 0x0451)]
            low = sum(1 for o in core if o >= 0x0430)
            run = best_run = 0
            for c in text[:2048]:
                run = run + 1 if 0x0400 <= ord(c) <= 0x04FF else 0
                best_run = max(best_run, run)
            if (
                not core
                or len(core) < 0.75 * len(cyr)
                or low < 0.6 * len(core)
                or best_run < 3
            ):
                continue
            if enc == "koi8_r":
                # koi8_r's own tell (r12): its 0x80-0xBF zone is box
                # drawings and math symbols — exactly where GB/Big5
                # TRAIL bytes (0xA1-0xBF) land — so CJK-as-koi8
                # mojibake is ~1/3 box characters, while real Russian
                # prose contains essentially none. (koi8_r has no
                # extension letters, so gate (c) alone cannot reject
                # it the way it rejects cp1251 mis-parses.)
                boxes = sum(
                    1 for c in text[:2048]
                    if 0x2300 <= ord(c) <= 0x25FF
                )
                if boxes * 20 > len(cyr):
                    continue
        if enc == "big5":
            # Big5 vs GBK: both cover nearly every 2-byte pattern,
            # but HALF of real Big5 trails sit in 0x40-0x7E, a range
            # GB2312 text never uses. Bonus per low-trail unit so
            # genuine Big5 outscores its GBK mis-parse; pure-high
            # trails tie and the earlier candidate (gbk) wins.
            j, lowtrail = 0, 0
            while j + 1 < len(sample):
                if sample[j] >= 0x81:
                    if 0x40 <= sample[j + 1] <= 0x7E:
                        lowtrail += 1
                    j += 2
                else:
                    j += 1
            score += lowtrail
        if score > best_score:
            best, best_score = enc, score
    return best


def resolve_charset(content_type: str | None, body: bytes) -> str:
    """WHATWG-ordered charset resolution for one HTTP body:
    BOM > Content-Type charset= > <meta> sniff (first 1024 bytes) >
    content sniff (r12 — `sniff_charset`, only when nothing is
    declared) > UTF-8 default. Always returns a decodable python
    codec name."""
    if body[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"  # consumes the BOM
    if body[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"  # BOM-dispatching codec
    if content_type:
        enc = _known_codec(
            m.group(1) if (m := _HDR_CHARSET_RE.search(content_type))
            else None
        )
        if enc:
            return enc
    m = _META_CHARSET_RE.search(body[:1024])
    if m:
        label = m.group(1).decode("ascii", "replace")
        # WHATWG meta prescan: a <meta> could only be ASCII-sniffed
        # because the document ISN'T UTF-16, so utf-16 labels remap to
        # UTF-8 (r11 review — decoding an ASCII body as utf-16 turns
        # every byte pair into a bogus CJK char with no U+FFFD, the
        # silent mojibake this resolver exists to prevent)
        if label.strip().lower() in (
            "utf-16", "utf-16le", "utf-16be", "utf16",
        ):
            return "utf-8"
        enc = _known_codec(label)
        if enc:
            return enc
    return sniff_charset(body)


def decode_crawl_text(
    df: DataFrame,
    body_col: str = "body",
    content_type_col: str = "content_type",
    out_col: str = "text",
    charset_col: str | None = None,
) -> DataFrame:
    """Append a charset-aware decoded-text column to a warc_records
    frame. One vectorized Arrow pass (pandas_udf) — the per-row work
    is a header/BOM/meta charset resolution plus a C-speed
    bytes.decode with errors='replace' (a DECLARED charset whose
    bytes are broken still yields the page's decodable majority). At
    100 TB this fuses into warc_records' own mapInPandas stage (same
    task, zero extra Arrow hop); it stays a separate operator here so
    the binary body column remains available to non-text consumers
    (media extraction keeps raw bytes). ``charset_col`` additionally
    exposes the RESOLVED codec name (the corpus-composition signal a
    curation pipeline monitors) at no extra decode cost — one struct
    UDF either way."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no annotations: `from __future__ import annotations` stringifies
    # hints, which pandas_udf cannot infer — the bare signature takes
    # the default SCALAR eval type
    @pandas_udf("struct<text: string, charset: string>")
    def _decode(body, ctype):
        texts, encs = [], []
        for b, ct in zip(body, ctype):
            if b is None:
                texts.append(None)
                encs.append(None)
                continue
            raw = bytes(b)
            enc = resolve_charset(
                ct if isinstance(ct, str) else None, raw
            )
            # belt to _known_codec's suspenders: a codec that passed
            # the probe but raises on THIS body (errors-handler-
            # ignoring paths) still must not fail the task
            try:
                texts.append(raw.decode(enc, "replace"))
            except Exception:
                enc = "utf-8"
                texts.append(raw.decode("utf-8", "replace"))
            encs.append(enc)
        return pd.DataFrame({"text": texts, "charset": encs})

    tmp = "_decoded_struct"
    out = df.withColumn(
        tmp, _decode(F.col(body_col), F.col(content_type_col))
    ).withColumn(out_col, F.col(f"{tmp}.text"))
    if charset_col:
        out = out.withColumn(charset_col, F.col(f"{tmp}.charset"))
    return out.drop(tmp)


def warc_records(
    df: DataFrame,
    id_col: str = "file_id",
    content_col: str = "content",
    rows_per_chunk: int = 256,
    bytes_per_chunk: int = 32 << 20,
) -> DataFrame:
    """(file blob) frame -> one row per WARC record, emitted in
    BOUNDED CHUNKS as the archive inflates (r10 review: the operator
    used to list() the whole record set, so the streaming parser's
    memory bound stopped at this call site — rows now flush every
    ``rows_per_chunk`` records or ``bytes_per_chunk`` of accumulated
    body bytes, whichever first, and the per-task peak really is
    {blob} + {one chunk} + {one record}).

    Response records carry the parsed HTTP status and body; other
    record kinds (request/metadata/warcinfo) keep their type with a
    NULL body. The dead-letter discipline is two-level: a record
    whose HTTP payload is malformed quarantines THAT record
    (`parse_error` set, siblings unaffected); structural corruption
    of the FILE quarantines the remainder with one rec_idx=-1 row —
    records before the corruption were parsed from a well-formed,
    length-validated prefix and are kept (they may already have been
    emitted in an earlier chunk; retracting streamed output is not
    possible, and the prefix boundaries WERE trusted)."""
    import pandas as pd

    cols = [
        "file_id", "rec_idx", "warc_type", "target_uri",
        "http_status", "content_type", "n_payload_bytes",
        "n_body_bytes", "body", "parse_error",
    ]

    def batches(it):
        for pdf in it:
            rows: list[tuple] = []
            pending = 0  # body bytes buffered in `rows`

            def flush():
                nonlocal rows, pending
                out = pd.DataFrame(rows, columns=cols)
                rows, pending = [], 0
                return out

            for fid, blob in zip(pdf[id_col], pdf[content_col]):
                records = iter_warc_records(bytes(blob))
                j = 0
                while True:
                    try:
                        hdrs, payload = next(records)
                    except StopIteration:
                        break
                    except (ValueError, OSError, EOFError) as ex:
                        rows.append(
                            (fid, -1, None, None, None, None, None,
                             None, None,
                             f"{type(ex).__name__}: {ex}"[:200])
                        )
                        break
                    wtype = hdrs.get("warc-type", "")
                    uri = hdrs.get("warc-target-uri")
                    if wtype != "response":
                        rows.append(
                            (fid, j, wtype, uri, None, None,
                             len(payload), None, None, None)
                        )
                    else:
                        try:
                            status, h, body = parse_http_response(
                                payload
                            )
                        except ValueError as ex:
                            rows.append(
                                (fid, j, wtype, uri, None, None,
                                 len(payload), None, None,
                                 f"{type(ex).__name__}: {ex}"[:200])
                            )
                        else:
                            rows.append(
                                (fid, j, wtype, uri, status,
                                 h.get("content-type"),
                                 len(payload), len(body), body, None)
                            )
                            pending += len(body)
                    j += 1
                    if len(rows) >= rows_per_chunk or (
                        pending >= bytes_per_chunk
                    ):
                        yield flush()
            if rows:
                yield flush()

    return df.mapInPandas(batches, schema=WARC_RECORD_SCHEMA)
