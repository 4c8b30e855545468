"""Dependency-free PDF text extraction (stdlib zlib + byte parsing).

Narrow by design: enough of ISO 32000 to pull TEXT out of the
statement-shaped documents the reference feeds PyMuPDF
(pdf_to_xlsx.py:27-30). Handles content streams stored raw or
FlateDecode-compressed, literal `(…)` strings (escapes, octal,
nesting), hex `<…>` strings, and the text-showing operators
Tj / ' / " / TJ, with Td/TD/T*/ET treated as line breaks (matching
how a line-oriented statement lays out one Td+Tj per row).

CID/Type0 composite fonts: shown string bytes are
GLYPH CODES, not characters, so an encoding-unaware extractor emits
garbage. Two defenses:

- **ToUnicode CMap decode**: when a Type0 font carries a /ToUnicode
  stream (generators embed one so copy-paste works — the common case
  for generated statements), its bfchar/bfrange mappings are parsed
  and shown strings are decoded code-by-code through them. The
  current font is tracked via the `Tf` operator against the page
  /Font resource dicts.
- **Decode-confidence quarantine**: ``extract_with_confidence``
  returns ``(text, confidence, status)`` where confidence is the
  mapped fraction of shown code units (a Type0 font with no usable
  ToUnicode maps nothing; unknown codes under a CMap count as
  misses). Callers dead-letter anything below the threshold instead
  of silently ingesting mojibake.

Beyond plain streams (gaps PyMuPDF closes for the reference):

- **RC4 standard-security-handler decryption** (ISO 32000 §7.6.3,
  revisions R2/R3 at V<=2 and real-world R4 at V=4 with the /StdCF
  /CFM /V2 crypt filter — the RC4 forms): the empty user password
  (the overwhelmingly common "owner-locked" case — printing
  restricted, reading open) is VERIFIED against /U before any decrypt;
  a real password or a failed check raises and lands in the
  quarantine — never mojibake. RC4 is length-preserving, so stream
  payloads are decrypted IN PLACE and every downstream offset/regex
  keeps working. The /Encrypt lookup is anchored to trailer and
  /Type /XRef dictionaries: content bytes that merely LOOK like
  an /Encrypt reference never route a readable file into the decrypt
  path.

**AES decryption** (through the public ``cryptography`` package;
gated behind an import-try so absence fails CLOSED into the
quarantine, never half-decrypts):

- **/AESV2** (V=4 R=4, §7.6.3 + §7.6.5): same Algorithm-2 file key
  and /U verification as the RC4 forms; per-object key appends the
  spec's ``sAlT`` bytes to the MD5 input; stream payload = 16-byte IV
  + AES-128-CBC ciphertext with RFC 2898 padding (verified byte-wise
  — wrong key or corrupt data raises, fails closed).
- **/AESV3** (V=5 R=5/R=6, ISO 32000-2 §7.6.4): the empty user
  password is verified against /U's hash+validation-salt (plain
  SHA-256 for the deprecated R5; the full Algorithm 2.B iterated
  SHA-256/384/512 + AES-128-CBC hash chain for R6), then the 32-byte
  file key is unwrapped from /UE with AES-256-CBC (zero IV, no
  padding). One file key for every object — no per-object derivation.
  AES-decrypted output is SHORTER than the ciphertext, so the buffer
  is rebuilt piecewise rather than in place (downstream parsing is
  ``stream…endstream`` marker-based, never /Length-based, so shifted
  offsets are fine).
- **/ObjStm object streams** (§7.5.7): compressed objects are unpacked
  and appended to the scan buffer as ordinary ``n 0 obj`` bodies, so
  font dicts / ToUnicode refs hiding in object streams resolve through
  the same brute-force object table. (Streams themselves cannot live
  in an ObjStm, so content/CMap extraction is unaffected.)

**Real passwords**: every decrypt entry point takes an optional
``password``, tried as the USER password first (Algorithm 2/6 for
R2–R4 with the padded form; SHA-256 / Algorithm 2.B hashes for
R5/R6), then as the
OWNER password (Algorithm 7 recovers the padded user password from
/O for R2–R4; the /OE unwrap with the /O salts + /U-as-hash-input for
R5/R6). A wrong password raises — quarantine, never mojibake.

Still NOT handled (PyMuPDF territory): public-key (/Adobe.PubSec)
security handlers, CIDFont /Encoding CMaps other than the embedded
ToUnicode, positional reading order (streams are emitted in file
order). SASLprep normalization of non-ASCII V5 passwords IS handled
(_saslprep_utf8 — RFC 4013 over the stdlib stringprep
tables, with a raw-bytes second candidate for non-conforming
writers).
``extract_pdf_text`` decodes every statement through this module;
files outside that footprint quarantine.
"""

from __future__ import annotations

import re
import zlib

_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.S)
_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.S)
_FONTDICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONTDICT_REF_RE = re.compile(rb"/Font\s+(\d+)\s+\d+\s+R")
# PDF name chars: underscore is common in generator font names (/C2_0);
# '#' starts a hex escape — matched literally, good enough for lookup
# symmetry with the content-stream name scanner
_FONTREF_RE = re.compile(rb"/([A-Za-z0-9._#+-]+)\s+(\d+)\s+\d+\s+R")
_TOUNI_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_CODESPACE_RE = re.compile(rb"begincodespacerange\s*<([0-9A-Fa-f]+)>")

_ESCAPES = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
    ord("b"): b"\b", ord("f"): b"\x0c",
    ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}


def _parse_literal(buf: bytes, i: int) -> tuple[bytes, int]:
    """Parse a `(...)` literal starting AT the '('; returns (bytes,
    index past the ')')."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(buf)
    while i < n and depth:
        c = buf[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = buf[i]
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, 1-3 digits
                oct_digits = bytearray()
                while i < n and len(oct_digits) < 3 and 0x30 <= buf[i] <= 0x37:
                    oct_digits.append(buf[i])
                    i += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and buf[i] == 0x0A:
                    i += 1
            else:
                out.append(e)
                i += 1
        else:
            if c == 0x28:
                depth += 1
            elif c == 0x29:
                depth -= 1
                if not depth:
                    i += 1
                    break
            out.append(c)
            i += 1
    return bytes(out), i


def _objects(data: bytes) -> dict[int, bytes]:
    """Indirect objects by number (brute-force scan; no xref needed —
    matches the narrow no-/ObjStm scope above)."""
    return {int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(data)}


def _obj_stream(body: bytes) -> bytes | None:
    m = _STREAM_RE.search(body)
    if m is None:
        return None
    raw = m.group(1)
    try:
        return zlib.decompress(raw)
    except zlib.error:
        return raw


# --- standard security handler (RC4) + object streams -----------------

_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]+)>")
_OBJ_SPAN_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b", re.S)
# the spec's fixed 32-byte password pad (ISO 32000-1 §7.6.3.3, Table 21
# algorithm 2 step a — a public constant)
_PW_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


try:  # public package, present in this container; absence fails closed
    from cryptography.hazmat.primitives.ciphers import (  # type: ignore
        Cipher as _Cipher,
        algorithms as _cipher_algorithms,
        modes as _cipher_modes,
    )

    _HAVE_AES = True
except ImportError:  # pragma: no cover - the container ships it
    _HAVE_AES = False


def _aes_cbc_raw(key: bytes, iv: bytes, data: bytes, decrypt: bool = True) -> bytes:
    """AES-CBC with no padding handling (callers manage padding).
    Raises ValueError when the cryptography package is unavailable so
    the caller quarantines instead of emitting ciphertext as text."""
    if not _HAVE_AES:
        raise ValueError("AES encryption (cryptography package unavailable)")
    if len(data) % 16:
        raise ValueError("AES payload not block-aligned")
    c = _Cipher(_cipher_algorithms.AES(key), _cipher_modes.CBC(iv))
    op = c.decryptor() if decrypt else c.encryptor()
    return op.update(data) + op.finalize()


def _aes_decrypt_stream(key: bytes, payload: bytes) -> bytes:
    """Decrypt one stream payload: 16-byte IV + ciphertext, RFC 2898
    padding verified byte-wise (§7.6.3.1). The marker-based stream
    capture includes the EOL the producer wrote before ``endstream``
    (not part of the data per /Length), so trailing CR/LF is trimmed
    to the block boundary first. Any inconsistency raises — wrong key
    or corrupt ciphertext must quarantine, never emit noise."""
    while len(payload) % 16 and payload[-1:] in (b"\n", b"\r"):
        payload = payload[:-1]
    if len(payload) < 32 or len(payload) % 16:
        raise ValueError("malformed AES stream payload")
    pt = _aes_cbc_raw(key, payload[:16], payload[16:])
    n = pt[-1]
    if not 1 <= n <= 16 or pt[-n:] != bytes([n]) * n:
        raise ValueError("bad AES padding (wrong key or corrupt data)")
    return pt[:-n]


def _alg2b(pw: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (R6 password hash): iterated
    SHA-256/384/512 selected by an AES-128-CBC round, at least 64
    rounds, stopping when the last byte of the AES output is <= round
    number - 32."""
    import hashlib

    k = hashlib.sha256(pw + salt + udata).digest()
    i = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = _aes_cbc_raw(k[:16], k[16:32], k1, decrypt=False)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
            sum(e[:16]) % 3
        ](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _dict_string(body: bytes, name: bytes) -> bytes | None:
    """The string value of /name in a dictionary body — literal or hex
    form (O and U entries use either)."""
    m = re.search(rb"/" + name + rb"\s*(\(|<)", body)
    if m is None:
        return None
    if m.group(1) == b"(":
        s, _ = _parse_literal(body, m.end() - 1)
        return s
    h = re.match(rb"<([0-9A-Fa-f\s]*)>", body[m.end() - 1:])
    return bytes.fromhex(h.group(1).decode().replace(" ", "")) if h else None


def _std_handler_key(
    enc: bytes, file_id: bytes, password: bytes = b""
) -> tuple[bytes, int, str]:
    """(file encryption key, revision R, scheme) for the standard
    handler, verified against /U. ``password`` (default empty — the
    overwhelmingly common "owner-locked but readable" case) is tried
    as the USER password first (ISO 32000-1 Algorithm 6 / 32000-2
    §7.6.4); if that fails and a password was supplied, as the OWNER
    password (Algorithm 7: recover the padded user password from /O,
    or the V5 /OE unwrap). The scheme is 'rc4', 'aesv2' or 'aesv3'.
    Raises ValueError on anything this codec cannot decrypt
    honestly."""
    import hashlib
    import struct as _struct

    if re.search(rb"/Filter\s*/Standard\b", enc) is None:
        raise ValueError("non-standard security handler")
    r_m = re.search(rb"/R\s+(\d+)", enc)
    v_m = re.search(rb"/V\s+(\d+)", enc)
    p_m = re.search(rb"/P\s+(-?\d+)", enc)
    o = _dict_string(enc, b"O")
    u = _dict_string(enc, b"U")
    if not (r_m and p_m and o and u):
        raise ValueError("malformed /Encrypt dictionary")
    rev = int(r_m.group(1))
    v = int(v_m.group(1)) if v_m else 0
    if rev in (5, 6):
        return _std_handler_key_v5(enc, rev, u, password)
    if rev not in (2, 3, 4):
        raise ValueError(f"unsupported security revision R={rev}")
    if re.search(rb"/AESV3\b", enc):
        raise ValueError("AESV3 crypt filter with pre-V5 revision")
    if v <= 2 and re.search(rb"/AESV2\b", enc):
        # a crypt-filter method on a pre-filter version is malformed;
        # RC4-ing genuinely-AES bytes would emit noise
        raise ValueError("AESV2 crypt filter with V<=2")
    scheme = "rc4"
    if v > 2:
        # V=4 introduces crypt filters (§7.6.5); real-world R4 files
        # are V=4 with the default /StdCF filter carrying either the
        # RC4 (/CFM /V2) or AES-128 (/CFM /AESV2) method, and only
        # when streams actually route through /StdCF.
        if v != 4:
            raise ValueError(f"unsupported encryption version V={v}")
        if re.search(rb"/CFM\s*/AESV2\b", enc):
            scheme = "aesv2"
        elif not re.search(rb"/CFM\s*/V2\b", enc):
            raise ValueError("V=4 crypt filter method is neither /V2 nor /AESV2")
        if not re.search(rb"/StmF\s*/StdCF\b", enc):
            raise ValueError("V=4 stream crypt filter is not /StdCF")
    # The TOP-LEVEL /Length (bits). Dict key order is producer-
    # arbitrary, so a /CF subdictionary appearing BEFORE the top-level
    # /Length must not shadow it with the crypt filter's own /Length
    # (bytes) — mask the /CF << ... >> span before searching.
    cf_span = None
    cf_open = re.search(rb"/CF\s*<<", enc)
    if cf_open:
        depth, i = 1, cf_open.end()
        while depth and i < len(enc) - 1:
            if enc[i:i + 2] == b"<<":
                depth, i = depth + 1, i + 2
            elif enc[i:i + 2] == b">>":
                depth, i = depth - 1, i + 2
            else:
                i += 1
        cf_span = (cf_open.start(), i)
    top = (
        enc[:cf_span[0]] + b" " * (cf_span[1] - cf_span[0]) + enc[cf_span[1]:]
        if cf_span
        else enc
    )
    length_m = re.search(rb"/Length\s+(\d+)", top)
    if rev == 2:
        key_len = 5
    elif length_m:
        key_len = int(length_m.group(1)) // 8
    else:
        # V=4 files may carry the key length only inside the /StdCF
        # dict, where the spec says BYTES (some producers write bits)
        cf_m = re.search(rb"/StdCF\s*<<[^>]*?/Length\s+(\d+)", enc, re.S)
        if cf_m:
            cf_len = int(cf_m.group(1))
            key_len = cf_len if cf_len <= 40 else cf_len // 8
        else:
            key_len = 5

    def _user_key(padded_pw: bytes) -> bytes:
        """Algorithm 2: file key from a PADDED user password."""
        h = hashlib.md5()
        h.update(padded_pw)
        h.update(o[:32])
        h.update(_struct.pack("<i", int(p_m.group(1))))
        h.update(file_id)
        if rev == 4 and re.search(rb"/EncryptMetadata\s+false", enc):
            h.update(b"\xff\xff\xff\xff")
        key = h.digest()
        if rev >= 3:
            for _ in range(50):
                key = hashlib.md5(key[:key_len]).digest()
        return key[:key_len]

    def _u_ok(key: bytes) -> bool:
        """Algorithms 4/5: does this file key reproduce /U? A wrong
        password must quarantine, never emit RC4 noise as text. The
        /U formulas use the PAD CONSTANT itself, not the password —
        the password's only influence is through the key."""
        if rev == 2:
            return _rc4(key, _PW_PAD) == u[:32]
        step = hashlib.md5(_PW_PAD + file_id).digest()
        step = _rc4(key, step)
        for i in range(1, 20):
            step = _rc4(bytes(b ^ i for b in key), step)
        return step == u[:16]

    key = _user_key((password + _PW_PAD)[:32])
    if _u_ok(key):
        return key, rev, scheme
    if password:
        # Algorithm 7: try the password as the OWNER password —
        # Algorithm 3 steps a-d derive the RC4 key (NOTE: this 50-fold
        # MD5 chains the FULL digest, unlike Algorithm 2's
        # first-key_len-bytes loop), /O decrypts to the PADDED user
        # password, which re-enters the user path above.
        ok_key = hashlib.md5((password + _PW_PAD)[:32]).digest()
        if rev >= 3:
            for _ in range(50):
                ok_key = hashlib.md5(ok_key).digest()
        ok_key = ok_key[:key_len]
        user_padded = o[:32]
        if rev == 2:
            user_padded = _rc4(ok_key, user_padded)
        else:
            for i in range(19, -1, -1):
                user_padded = _rc4(
                    bytes(b ^ i for b in ok_key), user_padded
                )
        key = _user_key(user_padded)
        if _u_ok(key):
            return key, rev, scheme
        # last resort: the EMPTY user password — a wrong password on a
        # file that is merely owner-locked must still open it (the
        # password wasn't needed; same order viewers use)
        key = _user_key(_PW_PAD)
        if _u_ok(key):
            return key, rev, scheme
        raise ValueError("wrong password (user and owner checks failed)")
    raise ValueError("user password required (empty-password check failed)")


def _saslprep_utf8(password: bytes) -> bytes | None:
    """SASLprep (RFC 4013, via the stdlib RFC 3454 ``stringprep``
    tables) of a UTF-8 password — the normalization ISO 32000-2
    §7.6.4.3.3 requires before hashing V5 passwords. Returns the
    normalized UTF-8 bytes, or None when the input is not valid UTF-8
    or contains prohibited/unassigned characters or a bidi violation
    (a CONFORMING writer can never have used such a password, so the
    caller just skips the normalized candidate). ASCII passwords are
    fixed points."""
    import stringprep
    import unicodedata

    try:
        s = password.decode("utf-8")
    except UnicodeDecodeError:
        return None
    mapped = []
    for ch in s:
        if stringprep.in_table_c12(ch):      # non-ASCII space → SP
            mapped.append(" ")
        elif stringprep.in_table_b1(ch):     # map-to-nothing
            continue
        else:
            mapped.append(ch)
    s = unicodedata.normalize("NFKC", "".join(mapped))
    prohibited = (
        stringprep.in_table_c12, stringprep.in_table_c21_c22,
        stringprep.in_table_c3, stringprep.in_table_c4,
        stringprep.in_table_c5, stringprep.in_table_c6,
        stringprep.in_table_c7, stringprep.in_table_c8,
        stringprep.in_table_c9,
    )
    for ch in s:
        if any(p(ch) for p in prohibited) or stringprep.in_table_a1(ch):
            return None
    if any(stringprep.in_table_d1(ch) for ch in s):
        # RFC 3454 §6 bidi rules for RandALCat strings
        if any(stringprep.in_table_d2(ch) for ch in s):
            return None
        if not (
            stringprep.in_table_d1(s[0]) and stringprep.in_table_d1(s[-1])
        ):
            return None
    return s.encode("utf-8")


def _std_handler_key_v5(
    enc: bytes, rev: int, u: bytes, password: bytes = b""
) -> tuple[bytes, int, str]:
    """AESV3 (V=5, R=5/R=6) file key (ISO 32000-2 §7.6.4): /U =
    32-byte password hash + 8-byte validation salt + 8-byte key salt;
    verify the hash, then unwrap the 32-byte file key from /UE with
    AES-256-CBC, zero IV, no padding. R5 (the deprecated Adobe
    extension) hashes with one plain SHA-256; R6 uses Algorithm 2.B.
    A supplied password is tried as USER first, then as OWNER (same
    shape with the /O salts, the full 48-byte /U as extra hash input,
    and the /OE unwrap). Passwords are UTF-8, SASLprep-normalized
    per §7.6.4.3.3 (_saslprep_utf8 — the RFC 4013 profile over
    the stdlib stringprep tables) and truncated to 127 bytes; the RAW
    bytes are tried as a second candidate for files written by
    non-conforming producers that hashed the un-normalized password
    (ASCII passwords, the practical case, have one candidate)."""
    import hashlib

    if not _HAVE_AES:
        raise ValueError("AES encryption (cryptography package unavailable)")
    ue = _dict_string(enc, b"UE")
    if u is None or len(u) < 48 or ue is None or len(ue) < 32:
        raise ValueError("malformed V5 /Encrypt dictionary (/U //UE)")
    if not re.search(rb"/AESV3\b", enc):
        raise ValueError("V5 encryption without an /AESV3 crypt filter")
    if not re.search(rb"/StmF\s*/StdCF\b", enc):
        raise ValueError("V5 stream crypt filter is not /StdCF")
    candidates = []
    norm = _saslprep_utf8(password)
    if norm is not None:
        candidates.append(norm[:127])
    if password[:127] not in candidates:
        candidates.append(password[:127])
    vsalt, ksalt = u[32:40], u[40:48]
    o = _dict_string(enc, b"O")
    oe = _dict_string(enc, b"OE")

    def _attempt(pw: bytes):
        if rev == 5:
            h = hashlib.sha256(pw + vsalt).digest()
            ik = hashlib.sha256(pw + ksalt).digest()
        else:
            h = _alg2b(pw, vsalt)
            ik = _alg2b(pw, ksalt)
        if h == u[:32]:
            return _aes_cbc_raw(ik, bytes(16), ue[:32])
        if pw and o is not None and len(o) >= 48 and oe is not None \
                and len(oe) >= 32:
            o_vsalt, o_ksalt, u48 = o[32:40], o[40:48], u[:48]
            if rev == 5:
                ho = hashlib.sha256(pw + o_vsalt + u48).digest()
                iko = hashlib.sha256(pw + o_ksalt + u48).digest()
            else:
                ho = _alg2b(pw, o_vsalt, u48)
                iko = _alg2b(pw, o_ksalt, u48)
            if ho == o[:32]:
                return _aes_cbc_raw(iko, bytes(16), oe[:32])
        return None

    for pw in candidates:
        key = _attempt(pw)
        if key is not None:
            return key, rev, "aesv3"
    if password:
        # last resort: the EMPTY user password (see the R2-R4 twin)
        key = _attempt(b"")
        if key is not None:
            return key, rev, "aesv3"
        raise ValueError("wrong password (user and owner checks failed)")
    raise ValueError("user password required (empty-password check failed)")


def _find_encrypt_ref(data: bytes):
    """The /Encrypt reference, looked up ONLY where the spec puts it:
    trailer dictionaries and cross-reference-stream (/Type /XRef)
    dictionaries — never the raw buffer. An unencrypted PDF whose
    uncompressed CONTENT happens to contain the bytes '/Encrypt N 0 R'
    must not be routed into the decrypt path; a candidate
    whose referenced object does not exist or is not a /Filter dict is
    likewise ignored rather than quarantining a readable file."""
    if b"/Encrypt" not in data:
        return None  # the overwhelmingly common case — no object sweep
    objects = None
    candidates = []
    for m in re.finditer(rb"trailer", data):
        # the trailer dict runs to its startxref (or EOF); no fixed
        # byte window — a large /ID or padded trailer must not hide
        # the /Encrypt key
        sx = data.find(b"startxref", m.end())
        em = _ENCRYPT_REF_RE.search(
            data, m.end(), sx if sx >= 0 else len(data)
        )
        if em:
            candidates.append(em)
    if b"/XRef" in data:
        for m in _OBJ_RE.finditer(data):
            body = m.group(2)
            if re.search(rb"/Type\s*/XRef\b", body):
                em = _ENCRYPT_REF_RE.search(body)
                if em:
                    candidates.append(em)
    for em in candidates:
        if objects is None:
            objects = _objects(data)
        body = objects.get(int(em.group(1)))
        if body is not None and re.search(rb"/Filter\s*/", body):
            return em
    return None


def _decrypt_streams(data: bytes, password: bytes = b"") -> bytes:
    """Decrypt every stream payload (RC4 in place — length-preserving;
    AES via a piecewise rebuild — plaintext is shorter) and return the
    rebuilt buffer. No-op for unencrypted input. ``password`` is tried
    as user then owner (see _std_handler_key)."""
    enc_ref = _find_encrypt_ref(data)
    if enc_ref is None:
        return data
    id_m = _ID_RE.search(data)
    enc_body = _objects(data).get(int(enc_ref.group(1)))
    if enc_body is None:
        raise ValueError("dangling /Encrypt reference")
    key, _rev, scheme = _std_handler_key(
        enc_body,
        bytes.fromhex(id_m.group(1).decode()) if id_m else b"",
        password,
    )
    import hashlib

    enc_num = int(enc_ref.group(1))
    meta_clear = re.search(rb"/EncryptMetadata\s+false", enc_body) is not None
    pieces: list[bytes] = []
    cursor = 0
    for m in _OBJ_SPAN_RE.finditer(data):
        num, gen = int(m.group(1)), int(m.group(2))
        if num == enc_num:
            continue  # the encrypt dict itself is never encrypted
        end = data.find(b"endobj", m.end())
        if end < 0:
            continue
        sm = _STREAM_RE.search(data, m.end(), end + 9)
        if sm is None or sm.start() > end:
            continue
        if sm.start(1) < cursor:
            # a false 'N G obj ... stream' match INSIDE an
            # already-emitted encrypted payload: emitting it would
            # duplicate and re-decrypt bytes (RC4 silently corrupts
            # the rebuilt buffer; AES quarantines a decryptable file)
            continue
        head = data[m.end():sm.start()]
        # spec-mandated-PLAINTEXT streams: cross-reference
        # streams are never encrypted (§7.5.8.2), nor is /Metadata
        # under /EncryptMetadata false. RC4 merely garbled these unused
        # bytes; AES would hard-fail on them and quarantine a
        # decryptable file.
        if re.search(rb"/Type\s*/XRef\b", head) or (
            meta_clear and re.search(rb"/Type\s*/Metadata\b", head)
        ):
            continue
        payload = data[sm.start(1):sm.end(1)]
        if scheme == "aesv3":
            plain = _aes_decrypt_stream(key, payload)
        else:
            salt = b"sAlT" if scheme == "aesv2" else b""
            obj_key = hashlib.md5(
                key
                + num.to_bytes(3, "little")
                + gen.to_bytes(2, "little")
                + salt
            ).digest()[: min(len(key) + 5, 16)]
            plain = (
                _aes_decrypt_stream(obj_key, payload)
                if scheme == "aesv2"
                else _rc4(obj_key, payload)
            )
        pieces.append(data[cursor:sm.start(1)])
        pieces.append(plain)
        cursor = sm.end(1)
    pieces.append(data[cursor:])
    return b"".join(pieces)


def _expand_object_streams(data: bytes) -> bytes:
    """Append every /ObjStm member as an ordinary top-level object so
    the brute-force object scan resolves refs into compressed
    cross-reference layouts."""
    extra = bytearray()
    for m in _OBJ_RE.finditer(data):
        body = m.group(2)
        if re.search(rb"/Type\s*/ObjStm\b", body) is None:
            continue
        n_m = re.search(rb"/N\s+(\d+)", body)
        first_m = re.search(rb"/First\s+(\d+)", body)
        payload = _obj_stream(body)
        if not (n_m and first_m and payload):
            continue
        n, first = int(n_m.group(1)), int(first_m.group(1))
        header = payload[:first].split()
        if len(header) < 2 * n:
            continue
        pairs = [
            (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
        ]
        for j, (num, off) in enumerate(pairs):
            end = first + pairs[j + 1][1] if j + 1 < n else len(payload)
            extra += (
                b"\n%d 0 obj\n" % num + payload[first + off:end] + b"\nendobj\n"
            )
    return bytes(data) + bytes(extra) if extra else data


def _preprocess(data: bytes, password: bytes = b"") -> bytes:
    """Decrypt (standard handler: RC4 or AES), then surface /ObjStm
    members. Raises on undecryptable input — the caller quarantines."""
    return _expand_object_streams(_decrypt_streams(data, password))


def _parse_cmap(cmap: bytes) -> tuple[int, dict[int, str]]:
    """(code_byte_len, {glyph code -> unicode string}) from a
    ToUnicode CMap's codespacerange / bfchar / bfrange sections.
    Destination hex is UTF-16BE per the CMap spec."""
    m = _CODESPACE_RE.search(cmap)
    code_len = len(m.group(1)) // 2 if m else 2
    table: dict[int, str] = {}

    def dst_str(hexs: bytes) -> str:
        raw = bytes.fromhex(hexs.decode())
        return raw.decode("utf-16-be", errors="replace")

    for sec in _BFCHAR_RE.finditer(cmap):
        hexes = _HEX_RE.findall(sec.group(1))
        for src, dst in zip(hexes[0::2], hexes[1::2]):
            table[int(src, 16)] = dst_str(dst)
    for sec in _BFRANGE_RE.finditer(cmap):
        body = sec.group(1)
        # two forms: <lo> <hi> <dstStart>  |  <lo> <hi> [<d0> <d1> ...]
        for m3 in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\[[^\]]*\]|<[0-9A-Fa-f]+>)",
            body,
        ):
            lo, hi = int(m3.group(1), 16), int(m3.group(2), 16)
            dst = m3.group(3)
            if dst.startswith(b"["):
                dsts = _HEX_RE.findall(dst)
                for off, d in enumerate(dsts):
                    if lo + off <= hi:
                        table[lo + off] = dst_str(d)
            else:
                start = bytes.fromhex(dst[1:-1].decode())
                base = int.from_bytes(start, "big")
                width = max(len(start), 2)
                for code in range(lo, hi + 1):
                    val = base + code - lo
                    # malformed range overflowing its destination width
                    # (val.to_bytes would raise): widen to the next even
                    # byte count so a bad CMap degrades to odd glyphs,
                    # never a crashed extraction task
                    w = max(width, (val.bit_length() + 15) // 16 * 2)
                    table[code] = val.to_bytes(w, "big").decode(
                        "utf-16-be", errors="replace"
                    )
    return code_len, table


# font modes for the content-stream walker
_SIMPLE = ("simple",)          # 1 byte = 1 latin-1 char
_CID_UNMAPPED = ("cid",)       # Type0 with no usable ToUnicode


def _font_maps(data: bytes) -> dict[bytes, tuple]:
    """Resource font name (e.g. b'F1') → decode mode: ('cmap',
    code_len, table) when a ToUnicode CMap resolves, _CID_UNMAPPED for
    a Type0 font without one, _SIMPLE otherwise. Covers both inline
    ``/Font << ... >>`` resource dicts and the (common) indirect form
    ``/Font 7 0 R``. Names colliding across pages keep the first
    binding — fine for the one-font statement shape this codec
    targets."""
    objects = _objects(data)
    fonts: dict[bytes, tuple] = {}
    dict_bodies = [fd.group(1) for fd in _FONTDICT_RE.finditer(data)]
    for ref in _FONTDICT_REF_RE.finditer(data):
        body = objects.get(int(ref.group(1)))
        if body is not None:
            dict_bodies.append(body)
    for fd in dict_bodies:
        for name, num in _FONTREF_RE.findall(fd):
            if name in fonts:
                continue
            body = objects.get(int(num))
            if body is None:
                continue
            tu = _TOUNI_RE.search(body)
            if tu is not None:
                tbody = objects.get(int(tu.group(1)))
                cmap = _obj_stream(tbody) if tbody is not None else None
                if cmap:
                    code_len, table = _parse_cmap(cmap)
                    if table:
                        fonts[name] = ("cmap", code_len, table)
                        continue
            fonts[name] = _CID_UNMAPPED if _TYPE0_RE.search(body) else _SIMPLE
    return fonts


def _decode_shown(s: bytes, font: tuple) -> tuple[str, int, int]:
    """(text, total_code_units, mapped_code_units) for one shown
    string under the current font's decode mode."""
    if font[0] == "cmap":
        _, code_len, table = font
        out: list[str] = []
        total = mapped = 0
        for k in range(0, len(s) - code_len + 1, code_len):
            code = int.from_bytes(s[k : k + code_len], "big")
            total += 1
            hit = table.get(code)
            if hit is None:
                out.append("�")
            else:
                out.append(hit)
                mapped += 1
        if len(s) % code_len:  # dangling partial code = a miss, not free
            total += 1
        return "".join(out), total, mapped
    if font[0] == "cid":
        # glyph ids with no mapping: every 2-byte code is a miss
        n = max(1, len(s) // 2)
        return "�" * n, n, 0
    return s.decode("latin-1"), len(s), len(s)


def _text_from_content(
    buf: bytes,
    fonts: dict[bytes, tuple] | None = None,
    default: tuple = _SIMPLE,
) -> tuple[str, int, int]:
    """Walk a content stream's tokens; emit shown strings (decoded per
    the current `Tf` font), newlines on text-positioning operators.
    Returns (text, total_code_units, mapped_code_units).

    ``default`` is the decode mode for font names NOT in ``fonts`` —
    callers pass _CID_UNMAPPED when the document declares a Type0
    font anywhere, so an unresolvable font resource (exotic object
    layout, /ObjStm) FAILS CLOSED into the quarantine instead of
    emitting latin-1 mojibake at confidence 1.0."""
    fonts = fonts or {}
    out: list[str] = []
    pending: list[bytes] = []
    cur: tuple = default
    last_name: bytes | None = None
    total = mapped = 0
    i, n = 0, len(buf)
    while i < n:
        c = buf[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment
            j = buf.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif c == 0x28:  # ( literal string
            s, i = _parse_literal(buf, i)
            pending.append(s)
        elif c == 0x3C:  # < hex string or << dict
            if i + 1 < n and buf[i + 1] == 0x3C:
                i += 2
            else:
                j = buf.find(b">", i)
                j = n if j < 0 else j
                hexs = re.sub(rb"[^0-9A-Fa-f]", b"", buf[i + 1 : j])
                if len(hexs) % 2:
                    hexs += b"0"
                pending.append(bytes.fromhex(hexs.decode()))
                i = j + 1
        elif c in b"[]{}":
            i += 1
        elif c == 0x2F:  # /Name
            i += 1
            j = i
            while j < n and buf[j] not in _WS and buf[j] not in _DELIM:
                j += 1
            last_name = buf[i:j]
            i = j
        else:  # operator or number token
            j = i
            while j < n and buf[j] not in _WS and buf[j] not in _DELIM:
                j += 1
            tok = buf[i:j]
            i = j if j > i else i + 1
            if tok in (b"Tj", b"'", b'"', b"TJ"):
                for s in pending:
                    t, tt, mm = _decode_shown(s, cur)
                    out.append(t)
                    total += tt
                    mapped += mm
                pending = []
            elif tok in (b"Td", b"TD", b"T*", b"ET"):
                out.append("\n")
                pending = []
            elif tok == b"Tf":
                if last_name is not None:
                    cur = fonts.get(last_name, default)
                pending = []
            elif tok and not re.fullmatch(rb"[-+.0-9]+", tok):
                pending = []  # strings consumed by a non-showing op
    return "".join(out), total, mapped


def _content_streams(data: bytes):
    for m in _STREAM_RE.finditer(data):
        raw = m.group(1)
        try:
            payload = zlib.decompress(raw)
        except zlib.error:
            payload = raw
        if b"BT" in payload and (
            b"Tj" in payload or b"TJ" in payload or b"'" in payload
        ):
            yield payload


def extract_with_confidence(
    data: bytes, password: bytes = b""
) -> tuple[str, float, str]:
    """(text, decode_confidence, status) over all content streams in
    file order. Confidence = mapped fraction of shown code units —
    1.0 for simple-font or fully CMap-mapped documents, 0.0 for a
    Type0 document with no ToUnicode (glyph ids, undecodable here).
    Status: 'ok' at confidence ≥ 0.9, else 'quarantine' — the caller
    dead-letters quarantined files instead of parsing mojibake
    (reference anchor pdf_to_xlsx.py:27-30 gets this for free from
    PyMuPDF).

    Total function over arbitrary bytes: a PDF malformed enough to
    break the object/CMap walk quarantines ("", 0.0) instead of
    raising — one poison file must never fail the ingest batch (same
    contract as the streaming row-level quarantine)."""
    try:
        return _extract_with_confidence(data, password)
    except Exception:
        return "", 0.0, "quarantine"


def _extract_with_confidence(
    data: bytes, password: bytes = b""
) -> tuple[str, float, str]:
    data = _preprocess(data, password)
    fonts = _font_maps(data)
    # fail CLOSED: a document that declares a Type0 font anywhere gets
    # _CID_UNMAPPED for any font name the resolver could NOT bind
    # (indirect layouts, /ObjStm resources) — unresolvable composite
    # fonts must land in the quarantine, never decode as latin-1
    default = _CID_UNMAPPED if _TYPE0_RE.search(data) else _SIMPLE
    pages: list[str] = []
    total = mapped = 0
    for payload in _content_streams(data):
        t, tt, mm = _text_from_content(payload, fonts, default)
        pages.append(t)
        total += tt
        mapped += mm
    conf = (mapped / total) if total else 1.0
    return "\n".join(pages), conf, ("ok" if conf >= 0.9 else "quarantine")
