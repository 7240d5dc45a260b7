"""MySQL collation registry + charset→codec map (connection collation).

The reference validates the DSN ``collation`` parameter against the
server collation table and sends the resolved id as byte 12 of the
HandshakeResponse41, erroring on an unknown name
(`/root/reference/dump/collations.go:1-242`, `dump/packets.go:300-308`);
the DSN ``charset`` parameter instead issues post-connect ``SET NAMES``
with comma-separated fallbacks (`dump/connection.go:119-135`). The
id↔name mapping itself is public MySQL metadata (``SELECT
COLLATION_NAME, ID FROM information_schema.COLLATIONS`` — the same
query the reference's comment prescribes).

The table below is stored id→name and the five Unicode collation
families (utf16/ucs2/utf32/utf8/utf8mb4 at id bases 101/128/160/192/224)
are generated from their shared, order-identical suffix list rather than
spelled out — 120 entries collapse to one loop.

``codec_for_charset`` additionally maps charset *names* (the prefix of a
collation name) to Python codecs for an optional charset-aware text
layer. The engine's row decode stays byte-transparent (reference
``CellBytes`` semantics, `replication/binlog_event.go` — charset is a
session/connection concern, not a row-decode one); this map only serves
consumers that want real ``str`` out of a known-charset column.
"""

from __future__ import annotations

DEFAULT_COLLATION = "utf8_general_ci"

# Irregular low-id region (ids 1-99: legacy charsets + _bin variants).
_LOW_IDS = {
    1: "big5_chinese_ci", 2: "latin2_czech_cs", 3: "dec8_swedish_ci",
    4: "cp850_general_ci", 5: "latin1_german1_ci", 6: "hp8_english_ci",
    7: "koi8r_general_ci", 8: "latin1_swedish_ci", 9: "latin2_general_ci",
    10: "swe7_swedish_ci", 11: "ascii_general_ci", 12: "ujis_japanese_ci",
    13: "sjis_japanese_ci", 14: "cp1251_bulgarian_ci",
    15: "latin1_danish_ci", 16: "hebrew_general_ci", 18: "tis620_thai_ci",
    19: "euckr_korean_ci", 20: "latin7_estonian_cs",
    21: "latin2_hungarian_ci", 22: "koi8u_general_ci",
    23: "cp1251_ukrainian_ci", 24: "gb2312_chinese_ci",
    25: "greek_general_ci", 26: "cp1250_general_ci",
    27: "latin2_croatian_ci", 28: "gbk_chinese_ci",
    29: "cp1257_lithuanian_ci", 30: "latin5_turkish_ci",
    31: "latin1_german2_ci", 32: "armscii8_general_ci",
    33: "utf8_general_ci", 34: "cp1250_czech_cs", 35: "ucs2_general_ci",
    36: "cp866_general_ci", 37: "keybcs2_general_ci",
    38: "macce_general_ci", 39: "macroman_general_ci",
    40: "cp852_general_ci", 41: "latin7_general_ci",
    42: "latin7_general_cs", 43: "macce_bin", 44: "cp1250_croatian_ci",
    45: "utf8mb4_general_ci", 46: "utf8mb4_bin", 47: "latin1_bin",
    48: "latin1_general_ci", 49: "latin1_general_cs", 50: "cp1251_bin",
    51: "cp1251_general_ci", 52: "cp1251_general_cs", 53: "macroman_bin",
    54: "utf16_general_ci", 55: "utf16_bin", 56: "utf16le_general_ci",
    57: "cp1256_general_ci", 58: "cp1257_bin", 59: "cp1257_general_ci",
    60: "utf32_general_ci", 61: "utf32_bin", 62: "utf16le_bin",
    63: "binary", 64: "armscii8_bin", 65: "ascii_bin", 66: "cp1250_bin",
    67: "cp1256_bin", 68: "cp866_bin", 69: "dec8_bin", 70: "greek_bin",
    71: "hebrew_bin", 72: "hp8_bin", 73: "keybcs2_bin", 74: "koi8r_bin",
    75: "koi8u_bin", 77: "latin2_bin", 78: "latin5_bin", 79: "latin7_bin",
    80: "cp850_bin", 81: "cp852_bin", 82: "swe7_bin", 83: "utf8_bin",
    84: "big5_bin", 85: "euckr_bin", 86: "gb2312_bin", 87: "gbk_bin",
    88: "sjis_bin", 89: "tis620_bin", 90: "ucs2_bin", 91: "ujis_bin",
    92: "geostd8_general_ci", 93: "geostd8_bin", 94: "latin1_spanish_ci",
    95: "cp932_japanese_ci", 96: "cp932_bin", 97: "eucjpms_japanese_ci",
    98: "eucjpms_bin", 99: "cp1250_polish_ci",
    159: "ucs2_general_mysql500_ci", 223: "utf8_general_mysql500_ci",
}

# The five Unicode families share one suffix sequence at fixed id bases.
_UNICODE_SUFFIXES = (
    "unicode_ci", "icelandic_ci", "latvian_ci", "romanian_ci",
    "slovenian_ci", "polish_ci", "estonian_ci", "spanish_ci",
    "swedish_ci", "turkish_ci", "czech_ci", "danish_ci",
    "lithuanian_ci", "slovak_ci", "spanish2_ci", "roman_ci",
    "persian_ci", "esperanto_ci", "hungarian_ci", "sinhala_ci",
    "german2_ci", "croatian_ci", "unicode_520_ci", "vietnamese_ci",
)
_UNICODE_BASES = {"utf16": 101, "ucs2": 128, "utf32": 160,
                  "utf8": 192, "utf8mb4": 224}


def _build() -> dict[int, str]:
    table = dict(_LOW_IDS)
    for charset, base in _UNICODE_BASES.items():
        for off, suffix in enumerate(_UNICODE_SUFFIXES):
            table[base + off] = f"{charset}_{suffix}"
    return table


ID_TO_COLLATION: dict[int, str] = _build()
COLLATION_TO_ID: dict[str, int] = {
    name: cid for cid, name in sorted(ID_TO_COLLATION.items(), reverse=True)
}


def collation_id(name: str) -> int:
    """Resolve a collation name → id for the handshake byte; unknown
    names raise exactly like the reference (`dump/packets.go:300-308`)."""
    try:
        return COLLATION_TO_ID[name]
    except KeyError:
        raise ValueError(f"unknown collation {name!r}") from None


# charset name → Python codec (standard cross-references: MySQL charset
# names vs IANA/Python codec registry). ``binary`` and charsets with no
# stdlib codec map to None → stay bytes.
CHARSET_CODECS: dict[str, str | None] = {
    "utf8": "utf-8", "utf8mb4": "utf-8", "ascii": "ascii",
    "latin1": "cp1252",   # MySQL latin1 is cp1252's superset, not 8859-1
    "latin2": "iso8859-2", "latin5": "iso8859-9", "latin7": "iso8859-13",
    "greek": "iso8859-7", "hebrew": "iso8859-8",
    "koi8r": "koi8-r", "koi8u": "koi8-u",
    "cp1250": "cp1250", "cp1251": "cp1251", "cp1256": "cp1256",
    "cp1257": "cp1257", "cp850": "cp850", "cp852": "cp852",
    "cp866": "cp866", "cp932": "cp932",
    "sjis": "shift_jis", "ujis": "euc_jp", "eucjpms": "euc_jisx0213",
    "euckr": "euc_kr", "gb2312": "gb2312", "gbk": "gbk", "big5": "big5",
    "tis620": "tis-620", "macroman": "mac_roman", "macce": "mac_latin2",
    "utf16": "utf-16-be", "utf16le": "utf-16-le", "utf32": "utf-32-be",
    "ucs2": "utf-16-be",
    "binary": None, "armscii8": None, "dec8": None, "geostd8": None,
    "hp8": None, "keybcs2": None, "swe7": None,
}


def charset_of(collation_name: str) -> str:
    """Collation name → its charset prefix (``latin1_bin`` → ``latin1``)."""
    if collation_name == "binary":
        return "binary"
    for cs in sorted(CHARSET_CODECS, key=len, reverse=True):
        if collation_name.startswith(cs + "_"):
            return cs
    raise ValueError(f"unknown collation {collation_name!r}")


def codec_for_collation(cid: int) -> str | None:
    """Collation id → Python codec name; None = keep raw bytes (binary,
    codec-less legacy charsets, and ids outside the registry — e.g. the
    MySQL 8.0 utf8mb4_0900 family at 255+, which a >1-byte collation
    field can carry)."""
    name = ID_TO_COLLATION.get(cid)
    if name is None:
        return None
    return CHARSET_CODECS.get(charset_of(name))


def source_codec(cid: int | None) -> str | None:
    """Collation id → codec the decode kernel should apply at source,
    or None for the byte-transparent default arm. UTF-8/ASCII collations
    return None on purpose: the default arm already decodes valid UTF-8
    and keeps invalid bytes losslessly (latin-1 mapping) instead of
    U+FFFD-corrupting them — strictly better than ``decode('utf-8',
    'replace')``. Only known non-UTF-8 text charsets route to their real
    codec, eliminating the post-hoc re-interpretation ambiguity
    (operators/charset.py module docstring: UTF-8-valid byte pairs in a
    cp1251 column)."""
    if cid is None:
        return None
    codec = codec_for_collation(cid)
    if codec in (None, "utf-8", "ascii"):
        return None
    return codec
