"""S9/S10 connector stages (functions/html.py, sources/html.py):
cheerio-equivalent extraction chains as column expressions, link-list
filters, and the doc-text mapInPandas dispatch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from regpulse_lakehouse_spark.functions import html as H
from regpulse_lakehouse_spark.functions import literal_dim
from regpulse_lakehouse_spark.sources.html import (
    DocTextExtractor,
    article_links,
    parse_articles,
)

_PAGES = [
    (
        "https://commission.europa.eu/news/list",
        """<html><head>
        <meta property="og:title" content="OG Title Wins"/>
        <meta name="description" content="the description"/>
        <title>Title Tag</title></head>
        <body><h1>H1 Header</h1>
        <time datetime="2026-03-05T10:00:00Z">5 March</time>
        <article><p>First &amp; finest paragraph.</p>
        <p><b>Second</b> paragraph.</p><p>   </p></article>
        <a href="/news/item-1">rel</a>
        <a href="https://other.org/abs">abs</a>
        <a href="#frag">frag</a>
        <a href="mailto:x@y.z">mail</a>
        <a href="javascript:void(0)">js</a>
        <a href="news/relative-no-slash">dropped</a>
        </body></html>""",
    ),
    (
        "https://example.com/no-title",
        "<html><body><p>only a paragraph</p></body></html>",
    ),
    (
        "https://example.com/title-fallbacks",
        """<html><head><meta content="Reversed Meta" name="title"/></head>
        <body><p>Fallback description here.</p></body></html>""",
    ),
]


def _pages_df(spark):
    return literal_dim(spark, _PAGES, ["url", "html"])


def test_parse_articles_extraction_chain(spark):
    rows = {r["url"]: r for r in parse_articles(_pages_df(spark)).collect()}
    art = rows["https://commission.europa.eu/news/list"]
    assert art["title"] == "OG Title Wins"
    # article paragraphs joined, tags stripped, entities decoded,
    # empty paragraph dropped
    assert art["content"] == "First & finest paragraph.\nSecond paragraph."
    assert art["published_date"] == "2026-03-05"
    # no title anywhere → dropped (fetchArticle returns null)
    assert "https://example.com/no-title" not in rows
    # content-before-attr meta ordering still matches; description
    # fallback (first <p>) when no <article>
    fb = rows["https://example.com/title-fallbacks"]
    assert fb["title"] == "Reversed Meta"
    assert fb["content"] == "Fallback description here."
    assert fb["published_date"] is None


def test_article_links_filters_and_absolutizes(spark):
    links = {
        r["link"]
        for r in article_links(_pages_df(spark))
        .filter(F.col("page_url").contains("commission"))
        .collect()
    }
    assert links == {
        "https://commission.europa.eu/news/item-1",
        "https://other.org/abs",
    }


def test_parse_articles_stays_codegen(spark):
    plan = parse_articles(_pages_df(spark))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_doc_text_extract_dispatch(spark):
    docs = literal_dim(
        spark,
        [
            ("https://x/reg.docx", bytearray(b"docx-bytes")),
            ("https://x/reg.pdf", bytearray(b"pdf-bytes")),
            ("https://x/reg.html", bytearray(b"html-bytes")),
        ],
        ["url", "payload"],
    ).withColumn("payload", F.col("payload").cast("binary"))
    out = {r["url"]: r for r in DocTextExtractor().extract(docs).collect()}
    assert out["https://x/reg.docx"]["kind"] == "docx"
    # garbage payloads decode to None (robustness contract), never raise
    assert out["https://x/reg.docx"]["text"] is None
    assert out["https://x/reg.pdf"]["kind"] == "pdf"
    assert out["https://x/reg.pdf"]["text"] is None
    assert out["https://x/reg.html"]["kind"] == "unsupported"
    assert out["https://x/reg.html"]["text"] is None
    assert out["https://x/reg.pdf"]["n_bytes"] == len(b"pdf-bytes")


def _real_docx(paragraphs):
    import io
    import zipfile

    xml = (
        '<?xml version="1.0"?><w:document xmlns:w="http://schemas.openxml'
        'formats.org/wordprocessingml/2006/main"><w:body>'
        + "".join(
            "<w:p><w:r><w:t>" + p + "</w:t></w:r></w:p>" for p in paragraphs
        )
        + "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        z.writestr("word/document.xml", xml)
    return buf.getvalue()


def _real_pdf(strings, compress=True):
    import zlib

    content = b"BT /F1 12 Tf " + b" ".join(
        b"(" + s + b") Tj" for s in strings
    ) + b" ET"
    if compress:
        body, filt = zlib.compress(content), b"/Filter /FlateDecode "
    else:
        body, filt = content, b""
    return (
        b"%PDF-1.4\n1 0 obj\n<< " + filt + b"/Length "
        + str(len(body)).encode()
        + b" >>\nstream\n" + body + b"\nendstream\nendobj\ntrailer\n<<>>\n%%EOF"
    )


def test_doc_text_extractor_decodes_real_docx_and_pdf(spark):
    docs = spark.createDataFrame(
        [
            ("https://x/a.docx", bytearray(_real_docx(["Hello docx", "Second &amp; para"]))),
            ("https://x/b.pdf", bytearray(_real_pdf([b"Hello (nested) pdf", b"line\\051two"]))),
            ("https://x/c.pdf", bytearray(_real_pdf([b"plain stream"], compress=False))),
        ],
        ["url", "payload"],
    ).withColumn("payload", F.col("payload").cast("binary"))
    out = {r["url"]: r["text"] for r in DocTextExtractor().extract(docs).collect()}
    # mammoth extractRawText separates paragraphs with a blank line
    assert out["https://x/a.docx"] == "Hello docx\n\nSecond & para"
    # escapes: \051 is ')', nested parens preserved
    assert out["https://x/b.pdf"] == "Hello (nested) pdf line)two"
    assert out["https://x/c.pdf"] == "plain stream"


def test_pdf_hex_strings_decode(spark):
    """Round 6: hex show-strings <...> decode too — plain byte pairs,
    whitespace inside, odd-digit 0-padding, UTF-16BE with BOM; the <<
    dictionary opener must not be mistaken for a string."""
    content = (
        b"BT /P <</MCID 0>> BDC /F1 12 Tf "
        b"<48656C6C6F> Tj "          # "Hello"
        b"<20 77 6F 72 6C 64> Tj "   # " world" with whitespace
        b"<FEFF00480049> Tj "        # UTF-16BE "HI"
        b"<4A4> Tj "                 # odd digits -> 4A 40 = "J@"
        b"ET"
    )
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\ntrailer\n<<>>\n%%EOF"
    )
    docs = spark.createDataFrame(
        [("https://x/h.pdf", bytearray(pdf))], ["url", "payload"]
    ).withColumn("payload", F.col("payload").cast("binary"))
    out = {r["url"]: r["text"] for r in DocTextExtractor().extract(docs).collect()}
    assert out["https://x/h.pdf"] == "Hello  world HI J@"


def test_stray_angle_before_literal_string_keeps_the_string(spark):
    """Code-review round-6 finding: a non-hex '<' bail must hand the
    offending character back unconsumed — if it is the '(' of a
    literal string, that string must still be extracted."""
    content = b"BT /F1 12 Tf < (Hello) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\ntrailer\n<<>>\n%%EOF"
    )
    docs = spark.createDataFrame(
        [("https://x/s.pdf", bytearray(pdf))], ["url", "payload"]
    ).withColumn("payload", F.col("payload").cast("binary"))
    out = {r["url"]: r["text"] for r in DocTextExtractor().extract(docs).collect()}
    assert out["https://x/s.pdf"] == "Hello"


def test_pdf_cid_font_resolves_via_tounicode_cmap(spark):
    """Round 8: CID-keyed fonts — hex show-strings are 2-byte glyph
    codes; the file's ToUnicode CMap stream (bfchar pairs + a bfrange)
    maps them to Unicode. Without the map these bytes are garbage."""
    import zlib

    cmap = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"begincmap\n"
        b"2 beginbfchar\n"
        b"<0003> <0048>\n"      # H
        b"<0010> <0065>\n"      # e
        b"endbfchar\n"
        b"1 beginbfrange\n"
        b"<0020> <0022> <006C>\n"  # 0020->l 0021->m 0022->n
        b"endbfrange\n"
        b"endcmap\n"
    )
    cmap_z = zlib.compress(cmap)
    content = b"BT /F1 12 Tf <00030010002000210022> Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(cmap_z)).encode()
        + b" >>\nstream\n" + cmap_z + b"\nendstream\nendobj\n"
        b"2 0 obj\n<< /Length "
        + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"trailer\n<<>>\n%%EOF"
    )
    docs = spark.createDataFrame(
        [("https://x/cid.pdf", bytearray(pdf))], ["url", "payload"]
    ).withColumn("payload", F.col("payload").cast("binary"))
    out = {r["url"]: r["text"] for r in DocTextExtractor().extract(docs).collect()}
    assert out["https://x/cid.pdf"] == "Helmn"


def test_pdf_cid_bfrange_array_and_multibyte_dst():
    """bfrange with an explicit destination array, and a bfchar whose
    destination is a multi-code-unit UTF-16 string (ligature 'ffi')."""
    from regpulse_lakehouse_spark.sources.html import _pdf_tounicode_cmap

    cmap = (
        b"1 beginbfchar\n<0005> <006600660069>\nendbfchar\n"  # f f i
        b"1 beginbfrange\n<0040> <0042> [<0058> <0059> <005A>]\nendbfrange\n"
    )
    got = _pdf_tounicode_cmap(cmap)
    assert got[0x0005] == "ffi"
    assert (got[0x40], got[0x41], got[0x42]) == ("X", "Y", "Z")


def test_pdf_rc4_encrypted_decrypts_with_empty_user_password(spark):
    """Round 8: classic RC4-encrypted PDF (standard security handler,
    owner-locked / empty user password). The fixture encrypts exactly
    per spec §7.6.3.3 Algorithm 2 + §7.6.2 Algorithm 1, so a decode
    proves the key derivation chain, not just RC4 symmetry."""
    import hashlib
    import zlib

    from regpulse_lakehouse_spark.sources.html import _PDF_PAD, _pdf_object_key, _rc4

    o_entry = bytes(range(32))
    p = -44
    id0 = bytes.fromhex("0102030405060708090a0b0c0d0e0f10")
    file_key = hashlib.md5(
        _PDF_PAD + o_entry + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0
    ).digest()[:5]  # /V 1 /R 2 -> 40-bit key
    content = b"BT /F1 12 Tf (Owner locked but readable) Tj ET"
    enc = _rc4(_pdf_object_key(file_key, 4, 0), zlib.compress(content))
    # r11: the fixture now carries the REAL Algorithm 4 /U entry
    # (RC4(file_key, PAD)) — the extractor validates it
    u_entry = _rc4(file_key, _PDF_PAD)
    pdf = (
        b"%PDF-1.4\n"
        b"3 0 obj\n<< /Filter /Standard /V 1 /R 2 /O <"
        + o_entry.hex().encode()
        + b"> /U <" + u_entry.hex().encode() + b"> /P -44 >>\nendobj\n"
        b"4 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(enc)).encode()
        + b" >>\nstream\n" + enc + b"\nendstream\nendobj\n"
        b"trailer\n<< /Encrypt 3 0 R /ID [<" + id0.hex().encode()
        + b"> <" + id0.hex().encode() + b">] >>\n%%EOF"
    )
    docs = spark.createDataFrame(
        [("https://x/locked.pdf", bytearray(pdf))], ["url", "payload"]
    ).withColumn("payload", F.col("payload").cast("binary"))
    out = {r["url"]: r["text"] for r in DocTextExtractor().extract(docs).collect()}
    assert out["https://x/locked.pdf"] == "Owner locked but readable"


def test_pdf_unsupported_encryption_returns_none_not_garbage():
    """/V 6 (beyond the spec'd subset), a /V 5 dict missing its /U
    key material, and /V 4 without an AESV2 crypt filter must all
    return None from the extractor, never garble."""
    from regpulse_lakehouse_spark.sources.html import DocTextExtractor

    for enc in (b"/V 6 /R 6", b"/V 5 /R 6", b"/V 4 /R 4"):
        pdf = (
            b"%PDF-1.4\n"
            b"3 0 obj\n<< /Filter /Standard " + enc + b" /O <00> /P -44 >>\nendobj\n"
            b"4 0 obj\n<< /Length 5 >>\nstream\nxxxxx\nendstream\nendobj\n"
            b"trailer\n<< /Encrypt 3 0 R >>\n%%EOF"
        )
        assert DocTextExtractor()._decode_pdf(pdf) is None


def test_pdf_aesv2_encrypted_decrypts(spark):
    """Round 8: /V 4 AESV2 (AES-128-CBC) per-object decryption — the
    fixture encrypts per spec (Algorithm 2 with the R>=3 50-round MD5
    hardening, per-object key with the 'sAlT' suffix, IV-prefixed
    CBC + PKCS#7), so a decode proves the whole chain; the AES core is
    independently pinned to FIPS-197 vectors."""
    import hashlib
    import zlib

    from regpulse_lakehouse_spark.sources.html import _PDF_PAD, _pdf_object_key
    from regpulse_lakehouse_spark.sources.pdfcrypto import aes_cbc_encrypt

    o_entry = bytes(range(200, 232))
    p = -3904
    id0 = bytes.fromhex("fedcba98765432100123456789abcdef")
    h = hashlib.md5(
        _PDF_PAD + o_entry + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0
    ).digest()
    for _ in range(50):
        h = hashlib.md5(h[:16]).digest()
    file_key = h[:16]
    content = b"BT /F1 12 Tf (AES sealed regulatory text) Tj ET"
    obj_key = _pdf_object_key(file_key, 4, 0, method="aes")
    enc = aes_cbc_encrypt(obj_key, bytes(range(16)), zlib.compress(content))
    # r11: real Algorithm 5 /U (MD5(PAD + ID0) through the 20 RC4 keys)
    from regpulse_lakehouse_spark.sources.html import _rc4 as _rc4f

    u = _rc4f(file_key, hashlib.md5(_PDF_PAD + id0).digest())
    for i in range(1, 20):
        u = _rc4f(bytes(b ^ i for b in file_key), u)
    u_entry = u + b"\x00" * 16
    pdf = (
        b"%PDF-1.4\n"
        b"3 0 obj\n<< /Filter /Standard /V 4 /R 4 /Length 128 "
        b"/CF << /StdCF << /CFM /AESV2 >> >> /StmF /StdCF /O <"
        + o_entry.hex().encode()
        + b"> /U <" + u_entry.hex().encode() + b"> /P -3904 >>\nendobj\n"
        b"4 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(enc)).encode()
        + b" >>\nstream\n" + enc + b"\nendstream\nendobj\n"
        b"trailer\n<< /Encrypt 3 0 R /ID [<" + id0.hex().encode()
        + b"> <" + id0.hex().encode() + b">] >>\n%%EOF"
    )
    docs = spark.createDataFrame(
        [("https://x/aes.pdf", bytearray(pdf))], ["url", "payload"]
    ).withColumn("payload", F.col("payload").cast("binary"))
    out = {r["url"]: r["text"] for r in DocTextExtractor().extract(docs).collect()}
    assert out["https://x/aes.pdf"] == "AES sealed regulatory text"


def _v5_fixture(
    r: int, user_password_empty: bool = True, owner_password: bytes | None = None
) -> bytes:
    """Build a /V 5 (AES-256) PDF exactly per ISO 32000-2 §7.6.4:
    /U = Hash(pwd ‖ vsalt)[32] ‖ vsalt ‖ ksalt, /UE = the file key
    wrapped under Hash(pwd ‖ ksalt) (zero-IV unpadded CBC), /Perms =
    AES-ECB(file key, P ‖ 0xff×4 ‖ 'Tadb' ‖ seed), streams in
    IV-prefixed AES-256-CBC under the file key directly. When
    ``owner_password`` is given, /O and /OE are built per Algorithm
    9/10 (owner hashes append the full 48-byte /U as trailing data);
    otherwise they are the zero-filled placeholders."""
    import hashlib
    import zlib

    from regpulse_lakehouse_spark.sources.pdfcrypto import (
        aes_cbc_encrypt,
        aes_cbc_encrypt_raw,
        aes_encrypt_block,
        pdf2_hardened_hash,
    )

    file_key = bytes(range(17, 49))
    vsalt, ksalt = b"ValSalt!", b"KeySalt?"
    pwd = b"" if user_password_empty else b"actual-user-password"
    if r == 6:
        u_hash = pdf2_hardened_hash(pwd, vsalt)
        inter = pdf2_hardened_hash(pwd, ksalt)
    else:
        u_hash = hashlib.sha256(pwd + vsalt).digest()
        inter = hashlib.sha256(pwd + ksalt).digest()
    u = u_hash + vsalt + ksalt
    ue = aes_cbc_encrypt_raw(inter, b"\x00" * 16, file_key)
    if owner_password is not None:
        ovsalt, oksalt = b"OvSalt!!", b"OkSalt??"
        if r == 6:
            o_hash = pdf2_hardened_hash(owner_password, ovsalt, u)
            ointer = pdf2_hardened_hash(owner_password, oksalt, u)
        else:
            o_hash = hashlib.sha256(owner_password + ovsalt + u).digest()
            ointer = hashlib.sha256(owner_password + oksalt + u).digest()
        o = o_hash + ovsalt + oksalt
        oe = aes_cbc_encrypt_raw(ointer, b"\x00" * 16, file_key)
    else:
        o, oe = b"\x00" * 48, b"\x00" * 32
    p = -3904
    perms = aes_encrypt_block(
        file_key,
        (p & 0xFFFFFFFF).to_bytes(4, "little") + b"\xff" * 4 + b"Tadbseed",
    )
    content = b"BT /F1 12 Tf (AES-256 sealed filing) Tj ET"
    enc = aes_cbc_encrypt(file_key, bytes(range(100, 116)), zlib.compress(content))
    return (
        b"%PDF-2.0\n"
        b"3 0 obj\n<< /Filter /Standard /V 5 /R " + str(r).encode()
        + b" /Length 256 /CF << /StdCF << /CFM /AESV3 >> >> /StmF /StdCF"
        b" /O <" + o.hex().encode() + b">"
        b" /OE <" + oe.hex().encode() + b">"
        b" /U <" + u.hex().encode() + b">"
        b" /UE <" + ue.hex().encode() + b">"
        b" /Perms <" + perms.hex().encode() + b">"
        b" /P -3904 >>\nendobj\n"
        b"4 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(enc)).encode()
        + b" >>\nstream\n" + enc + b"\nendstream\nendobj\n"
        b"trailer\n<< /Encrypt 3 0 R >>\n%%EOF"
    )


@pytest.mark.parametrize("r", [5, 6])
def test_pdf_aes256_encrypted_decrypts(spark, r):
    """Round 8: /V 5 AES-256 (ISO 32000-2, /R 5 AESV3 and /R 6) — the
    fixture wraps a known file key per spec, so a decode proves the
    whole chain: /U empty-password validation (SHA-256 or the
    Algorithm 2.B iterated hash), /UE key unwrap, /Perms integrity,
    and direct-file-key CBC stream decryption."""
    from regpulse_lakehouse_spark.sources.html import DocTextExtractor

    pdf = _v5_fixture(r)
    docs = spark.createDataFrame(
        [("https://x/a256.pdf", bytearray(pdf))], ["url", "payload"]
    ).withColumn("payload", F.col("payload").cast("binary"))
    out = {r_["url"]: r_["text"] for r_ in DocTextExtractor().extract(docs).collect()}
    assert out["https://x/a256.pdf"] == "AES-256 sealed filing"


def test_pdf_v5_user_password_locked_fails_loudly():
    """A /V 5 file whose user password is NOT empty must raise a clear
    /U-validation error from the key derivation (and the extractor
    must map it to None, not garbage)."""
    from regpulse_lakehouse_spark.sources.html import (
        DocTextExtractor,
        _pdf_encryption_key,
    )

    pdf = _v5_fixture(6, user_password_empty=False)
    with pytest.raises(ValueError, match="validation both failed"):
        _pdf_encryption_key(pdf)
    assert DocTextExtractor()._decode_pdf(pdf) is None


def test_pdf_v5_perms_integrity_check_rejects_wrong_key():
    """Corrupting /UE yields a wrong unwrapped key; /Perms must catch
    it (decrypts to something other than 'adb' at bytes 9-11)."""
    from regpulse_lakehouse_spark.sources.html import _pdf_encryption_key

    pdf = _v5_fixture(6)
    ue_hex = pdf.split(b"/UE <")[1].split(b">")[0]
    flipped = ("%064x" % (int(ue_hex, 16) ^ 0xFF)).encode()
    with pytest.raises(ValueError, match="Perms integrity"):
        _pdf_encryption_key(pdf.replace(ue_hex, flipped))


def test_pdf_encrypt_metadata_false_appends_ffffffff_to_key_derivation(spark):
    """Round 10 (r8 ADVICE): /R >= 4 with /EncryptMetadata false adds
    0xFFFFFFFF to the Algorithm 2 MD5 input (PDF spec §7.6.3.3 step f).
    The fixture derives its file key WITH that step, so a clean decode
    proves the extractor applies it; before the fix the derived key was
    wrong and the text came back None/garbled."""
    import hashlib
    import zlib

    from regpulse_lakehouse_spark.sources.html import _PDF_PAD, _pdf_object_key
    from regpulse_lakehouse_spark.sources.pdfcrypto import aes_cbc_encrypt

    o_entry = bytes(range(100, 132))
    p = -3904
    id0 = bytes.fromhex("00112233445566778899aabbccddeeff")
    h = hashlib.md5(
        _PDF_PAD + o_entry + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0
        + b"\xff\xff\xff\xff"  # the /EncryptMetadata false step
    ).digest()
    for _ in range(50):
        h = hashlib.md5(h[:16]).digest()
    file_key = h[:16]
    content = b"BT /F1 12 Tf (Metadata stays plaintext) Tj ET"
    obj_key = _pdf_object_key(file_key, 4, 0, method="aes")
    enc = aes_cbc_encrypt(obj_key, bytes(range(16)), zlib.compress(content))
    from regpulse_lakehouse_spark.sources.html import _rc4 as _rc4f

    u = _rc4f(file_key, hashlib.md5(_PDF_PAD + id0).digest())
    for i in range(1, 20):
        u = _rc4f(bytes(b ^ i for b in file_key), u)
    pdf = (
        b"%PDF-1.6\n"
        b"3 0 obj\n<< /Filter /Standard /V 4 /R 4 /Length 128 "
        b"/CF << /StdCF << /CFM /AESV2 >> >> /StmF /StdCF "
        b"/EncryptMetadata false /O <"
        + o_entry.hex().encode()
        + b"> /U <" + (u + b"\x00" * 16).hex().encode() + b"> /P -3904 >>\nendobj\n"
        b"4 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(enc)).encode()
        + b" >>\nstream\n" + enc + b"\nendstream\nendobj\n"
        b"trailer\n<< /Encrypt 3 0 R /ID [<" + id0.hex().encode()
        + b"> <" + id0.hex().encode() + b">] >>\n%%EOF"
    )
    docs = spark.createDataFrame(
        [("https://x/nometa.pdf", bytearray(pdf))], ["url", "payload"]
    ).withColumn("payload", F.col("payload").cast("binary"))
    out = {r["url"]: r["text"] for r in DocTextExtractor().extract(docs).collect()}
    assert out["https://x/nometa.pdf"] == "Metadata stays plaintext"


def test_pdf_user_password_unlocks_v5(spark):
    """r11: a genuinely user-password-locked /V 5 /R 6 PDF decrypts
    when the password is supplied, fails loudly (→ text None) when it
    is not — previously all password-locked files were the documented
    remainder."""
    pdf = _v5_fixture(6, user_password_empty=False)
    docs = spark.createDataFrame(
        [("https://x/locked5.pdf", bytearray(pdf))], ["url", "payload"]
    ).withColumn("payload", F.col("payload").cast("binary"))
    out = {
        r["url"]: r["text"]
        for r in DocTextExtractor(pdf_password="actual-user-password")
        .extract(docs).collect()
    }
    assert out["https://x/locked5.pdf"] == "AES-256 sealed filing"
    out_nopw = {
        r["url"]: r["text"] for r in DocTextExtractor().extract(docs).collect()
    }
    assert out_nopw["https://x/locked5.pdf"] is None


def test_pdf_user_password_unlocks_rc4_r3(spark):
    """r11: /V 2 /R 3 RC4 with a non-empty user password — Algorithm 2
    key derivation from the padded password, validated against a real
    Algorithm 5 /U entry."""
    import hashlib
    import zlib

    from regpulse_lakehouse_spark.sources.html import (
        _PDF_PAD, _pdf_object_key, _rc4,
    )

    pwd = b"hunter2-regulatory"
    o_entry = bytes(range(64, 96))
    p = -44
    id0 = bytes.fromhex("aabbccddeeff00112233445566778899")
    padded = (pwd + _PDF_PAD)[:32]
    h = hashlib.md5(
        padded + o_entry + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0
    ).digest()
    for _ in range(50):
        h = hashlib.md5(h[:5]).digest()
    file_key = h[:5]
    u = _rc4(file_key, hashlib.md5(_PDF_PAD + id0).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in file_key), u)
    content = b"BT /F1 12 Tf (Password sealed filing) Tj ET"
    enc = _rc4(_pdf_object_key(file_key, 4, 0), zlib.compress(content))
    pdf = (
        b"%PDF-1.4\n"
        b"3 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 40 /O <"
        + o_entry.hex().encode()
        + b"> /U <" + (u + b"\x00" * 16).hex().encode() + b"> /P -44 >>\nendobj\n"
        b"4 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(enc)).encode()
        + b" >>\nstream\n" + enc + b"\nendstream\nendobj\n"
        b"trailer\n<< /Encrypt 3 0 R /ID [<" + id0.hex().encode()
        + b"> <" + id0.hex().encode() + b">] >>\n%%EOF"
    )
    docs = spark.createDataFrame(
        [("https://x/locked3.pdf", bytearray(pdf))], ["url", "payload"]
    ).withColumn("payload", F.col("payload").cast("binary"))
    out = {
        r["url"]: r["text"]
        for r in DocTextExtractor(pdf_password=pwd).extract(docs).collect()
    }
    assert out["https://x/locked3.pdf"] == "Password sealed filing"
    # wrong password -> loud ValueError inside, None outside
    out_bad = {
        r["url"]: r["text"]
        for r in DocTextExtractor(pdf_password=b"wrong").extract(docs).collect()
    }
    assert out_bad["https://x/locked3.pdf"] is None


def test_pdf_owner_password_unlocks_rc4_r3(spark):
    """r11: a supplied OWNER password also opens /V 1-4 files —
    Algorithm 3 inverse recovers the padded user password from /O,
    then the normal user derivation + /U validation runs."""
    import hashlib
    import zlib

    from regpulse_lakehouse_spark.sources.html import (
        _PDF_PAD, _pdf_object_key, _rc4,
    )

    owner_pw, user_pw = b"the-owner-secret", b"u$er"
    id0 = bytes.fromhex("00ff00ff00ff00ff00ff00ff00ff00ff")
    # Algorithm 3: owner key from the padded owner password
    ok = hashlib.md5((owner_pw + _PDF_PAD)[:32]).digest()
    for _ in range(50):
        ok = hashlib.md5(ok[:5]).digest()
    okey = ok[:5]
    # /O = padded user password RC4'd through keys okey^0 .. okey^19
    o_entry = (user_pw + _PDF_PAD)[:32]
    for i in range(20):
        o_entry = _rc4(bytes(b ^ i for b in okey), o_entry)
    p = -44
    # file key from the padded USER password (Algorithm 2)
    h = hashlib.md5(
        (user_pw + _PDF_PAD)[:32] + o_entry
        + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0
    ).digest()
    for _ in range(50):
        h = hashlib.md5(h[:5]).digest()
    file_key = h[:5]
    u = _rc4(file_key, hashlib.md5(_PDF_PAD + id0).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in file_key), u)
    content = b"BT /F1 12 Tf (Opened with the owner password) Tj ET"
    enc = _rc4(_pdf_object_key(file_key, 4, 0), zlib.compress(content))
    pdf = (
        b"%PDF-1.4\n"
        b"3 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 40 /O <"
        + o_entry.hex().encode()
        + b"> /U <" + (u + b"\x00" * 16).hex().encode() + b"> /P -44 >>\nendobj\n"
        b"4 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(enc)).encode()
        + b" >>\nstream\n" + enc + b"\nendstream\nendobj\n"
        b"trailer\n<< /Encrypt 3 0 R /ID [<" + id0.hex().encode()
        + b"> <" + id0.hex().encode() + b">] >>\n%%EOF"
    )
    docs = spark.createDataFrame(
        [("https://x/owner.pdf", bytearray(pdf))], ["url", "payload"]
    ).withColumn("payload", F.col("payload").cast("binary"))
    for pw in (owner_pw, user_pw):  # EITHER password opens the file
        out = {
            r["url"]: r["text"]
            for r in DocTextExtractor(pdf_password=pw).extract(docs).collect()
        }
        assert out["https://x/owner.pdf"] == "Opened with the owner password", pw
    out_bad = {
        r["url"]: r["text"]
        for r in DocTextExtractor(pdf_password=b"nope").extract(docs).collect()
    }
    assert out_bad["https://x/owner.pdf"] is None


@pytest.mark.parametrize("r", [5, 6])
def test_pdf_v5_owner_password_unlocks(spark, r):
    """r12: an AES-256 PDF locked with BOTH passwords opens via EITHER —
    the owner path validates against /O (hashes carry the 48-byte /U as
    trailing data per Algorithm 2.A) and unwraps the file key from /OE.
    This was the last password-matrix refusal (/V 1-4 closed user+owner
    in r11, /V 5 user-only)."""
    pdf = _v5_fixture(r, user_password_empty=False, owner_password=b"the-owner-secret")
    docs = spark.createDataFrame(
        [("https://x/olock5.pdf", bytearray(pdf))], ["url", "payload"]
    ).withColumn("payload", F.col("payload").cast("binary"))
    for pw in ("the-owner-secret", "actual-user-password"):
        out = {
            row["url"]: row["text"]
            for row in DocTextExtractor(pdf_password=pw).extract(docs).collect()
        }
        assert out["https://x/olock5.pdf"] == "AES-256 sealed filing", pw


def test_pdf_v5_wrong_password_fails_both_paths():
    """A wrong password must fail BOTH the /U and /O validations with a
    loud error naming both, never decrypt to garbage."""
    from regpulse_lakehouse_spark.sources.html import _pdf_encryption_key

    pdf = _v5_fixture(6, user_password_empty=False, owner_password=b"the-owner-secret")
    with pytest.raises(ValueError, match="both failed"):
        _pdf_encryption_key(pdf, b"not-either-password")
    assert DocTextExtractor(pdf_password="nope")._decode_pdf(pdf) is None


def test_pdf_text_operator_interpreter_golden_fixtures():
    """r14 (VERDICT r13 task 5): the PDF path interprets the TEXT
    OPERATORS (Tj / TJ with kern-gap word restoration / ' / Td / TD /
    T* / Tm line structure), pdf-parse-style, pinned against two
    checked-in fixture PDFs — one FlateDecode, one plain."""
    import pathlib

    from regpulse_lakehouse_spark.sources.html import DocTextExtractor

    fx = pathlib.Path(__file__).parent / "fixtures"
    d = DocTextExtractor()
    kerned = d._decode_pdf((fx / "textops_kerned.pdf").read_bytes())
    # [(Regu)-20(latory)-250(filing)] TJ: -20 is kerning (joined),
    # -250 is a word gap (space); Td with ty=0 stays on the line,
    # ty!=0 breaks it
    assert kerned == (
        "Regulatory filing\n"
        "Section 1 indented same line\n"
        "Annual report 2024"
    )
    lines = d._decode_pdf((fx / "textops_lines.pdf").read_bytes())
    # T* and ' break lines; a Tm that changes y breaks, same y doesn't;
    # the BDC property dict must not eat the trailing show
    assert lines == (
        "First line\n"
        "second line\n"
        "third line after Tm same y stays tail"
    )


def test_docx_decoder_golden_fixtures():
    """r15 (VERDICT r14 task 2): the DOCX path is a real
    WordprocessingML decoder (stdlib zipfile + xml.etree) pinned
    against two checked-in fixtures (scripts/make_docx_fixtures.py)
    that reproduce actual Word output structure: mid-word run splits
    on proofing boundaries, tabs/soft-breaks as elements, numeric
    character references, field instructions and tracked-change
    deletions (not text), and a table whose cells are ordinary
    paragraphs. Output shape = mammoth extractRawText (the reference's
    extractor, globalautoregs.ts:110-116): blank line between
    paragraphs, TAB/newline for w:tab / w:br."""
    import pathlib

    from regpulse_lakehouse_spark.sources.html import DocTextExtractor

    fx = pathlib.Path(__file__).parent / "fixtures"
    d = DocTextExtractor()
    runs = d._decode_docx((fx / "docx_runs.docx").read_bytes())
    assert runs == (
        "Regulatory update\n\n"            # 'Regu'+'latory update' runs concatenated
        "Section\t1.2 \ncontinued after break\n\n"  # w:tab, w:br
        "R&D costs ≥ 10 k€ — approuvé\n\n"  # entities + UTF-8
        "visible tail"                     # instrText/delText dropped
    )
    table = d._decode_docx((fx / "docx_table.docx").read_bytes())
    assert table == (
        "Before table\n\n"
        "Requirement\n\nDeadline\n\n"
        "UN R155 audit\n\n2026-07-01\n\n"
        "After table"
    )
