"""StandardAnalyzer-equivalent text analysis chain.

Behavioral model (from public apache/lucene source, behavior only):
  - StandardTokenizer: UAX#29 word-break segmentation, max token length 255
    (longer tokens are split, not dropped)
    [lucene/core/src/java/org/apache/lucene/analysis/standard/StandardTokenizer.java:43-84]
  - LowerCaseFilter: per-code-point Unicode lowercase
    [lucene/core/src/java/org/apache/lucene/analysis/LowerCaseFilter.java:23-38]
  - StopFilter: drops stopwords [lucene/core/src/java/org/apache/lucene/analysis/StopFilter.java:25]
  - StandardAnalyzer default stop set is EMPTY
    [lucene/core/src/java/org/apache/lucene/analysis/standard/StandardAnalyzer.java:51-53];
    EnglishAnalyzer ships the classic 33-word list
    [lucene/analysis/common/src/java/org/apache/lucene/analysis/en/EnglishAnalyzer.java:43-52]

UAX#29 subset implemented (sufficient for source-code corpora):
  - runs of word characters (Unicode letters/digits/underscore) form tokens
    (underscore is ExtendNumLet -> joins, so ``snake_case`` is ONE token);
  - MidNumLet ``.``/``'``/U+2019 join SAME-type runs only (letter-letter:
    ``example.com``, ``can't``; digit-digit: ``1.5``) — mixed boundaries
    split (``sha256.update`` -> sha256, update; ``v1.x`` -> v1, x), matching
    StandardTokenizerImpl.jflex WB6/7 + WB11/12;
  - MidNum ``,`` joins digit runs (``1,024``); MidLetter ``:`` joins letter
    runs; ``_`` (ExtendNumLet) never joins across a joiner;
  - CJK ideographs + hiragana are emitted one-per-character (Lucene
    IDEOGRAPHIC / HIRAGANA tokens, StandardTokenizerImpl.jflex:278-279);
  - SOUTH-EAST-ASIAN: runs of Line_Break=Complex_Context scripts (Thai,
    Lao, Myanmar, Khmer, Tai) are ONE token per contiguous run, never
    joined with ALetter runs (jflex ``{ComplexContextEx}+``, :274; script
    digits are Numeric, not SA, so they stay in word runs);
  - KATAKANA: its own word-break class (NOT ALetter, jflex:90,223) — runs
    form one token, splitting from adjacent Latin unless joined by an
    ExtendNumLet underscore (WB13a/b); mid-joiners never join katakana.
    Hangul IS ALetter (jflex:87) so it chains with word runs unchanged;
  - EMOJI sequences (jflex:196-207 / UTS#51): pictographic char with
    optional presentation selector and skin-tone modifier, chained by
    ZWJ; keycaps ``3️⃣``; regional-indicator PAIRS (lone RI is dropped);
    tag sequences (subset: the FE0E text-presentation edge cases of
    TestStandardAnalyzer.testEmojiVariationSequence are not modeled);
  - tokens longer than 255 chars are split into 255-char chunks.

This is the single hot UDF of the build; it runs inside Arrow batches
(pandas), never per-row Python at the Spark API level.
"""

from __future__ import annotations

import re
from typing import Iterable, List

import numpy as np
import pandas as pd

MAX_TOKEN_LEN = 255

# The classic 33-word English stop set (EnglishAnalyzer.java:43-52).
ENGLISH_STOP_WORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)

# Word run: letters/digits/underscore. Joiners per UAX#29 subset above.
# CJK ideographs + hiragana break one-per-char; excluded from word runs.
_CJK = r"一-鿿㐀-䶿豈-﫿ぁ-ゟ"

# Line_Break=Complex_Context letters/marks (script digits excluded — they
# are WB:Numeric): Thai, Lao, Myanmar (+ext), Khmer, Tai Le, New Tai Lue,
# Tai Tham, Tai Viet.
_SEA = (
    "\u0e01-\u0e3a\u0e40-\u0e4e"  # Thai
    "\u0e81-\u0ebd\u0ec0-\u0ecd"  # Lao
    "\u1000-\u103f\u1050-\u108f\u109a-\u109f"  # Myanmar
    "\ua9e0-\ua9ef\ua9fa-\ua9fe\uaa60-\uaa7b"  # Myanmar extensions
    "\u1780-\u17dd"  # Khmer
    "\u1950-\u1974\u1980-\u19c9"  # Tai Le, New Tai Lue
    "\u1a20-\u1a7c"  # Tai Tham
    "\uaa80-\uaac2"  # Tai Viet
)

# WB:Katakana (own class, NOT ALetter): katakana + prolonged sound mark +
# iteration marks, phonetic extensions, halfwidth forms.
_KATA = "\u30a1-\u30fa\u30fc-\u30ff\u31f0-\u31ff\uff66-\uff9d"

# --- emoji sequences (UTS#51 subset per the jflex grammar, :60-79,196-207)
_RI = "\U0001f1e6-\U0001f1ff"  # regional indicators (pairs only)
# Extended_Pictographic main ranges, EXCLUDING the RI block. The BMP arrow
# and symbol blocks follow the actual Extended_Pictographic set (emoji-data
# Extended_Pictographic): 2194-2199 + 21A9-21AA (NOT 219A-21A8 \u2014 plain
# arrows like U+219A are dropped by the reference tokenizer), 231A-231B /
# 2328 / 23CF / 23E9-23F3 / 23F8-23FA for the technical block, and
# 2B05-2B07 / 2B1B-2B1C / 2B50 / 2B55 only from the 2B00 block (the rest
# of 2B00-2BFF is non-pictographic and must not emit emoji tokens).
# DOCUMENTED OVER-MATCH (like the FE0E tag-seq caveat): 25AA-25FE and
# 2600-27BF are kept as whole runs although Ext_Pict carves small holes
# (25AC-25B5 etc., 2606, 260D, 2613...) \u2014 those code points over-match as
# emoji here; the SMP planes keep whole blocks (Ext_Pict covers their
# unassigned points by design).
_PICT = (
    "\u00a9\u00ae\u203c\u2049\u2122\u2139\u2194-\u2199\u21a9\u21aa"
    "\u231a\u231b\u2328\u23cf\u23e9-\u23f3\u23f8-\u23fa\u24c2"
    "\u25aa-\u25fe\u2600-\u27bf\u2934\u2935"
    "\u2b05-\u2b07\u2b1b\u2b1c\u2b50\u2b55\u3030\u303d"
    "\u3297\u3299\U0001f000-\U0001f1e5\U0001f200-\U0001faff"
)
_MOD = "\U0001f3fb-\U0001f3ff"  # Emoji_Modifier (skin tones)
_ZWJ = "\u200d"
_PSEL = "\ufe0f"
_EMOJI_CORE = f"(?:[{_ZWJ}]*[{_PICT}][{_PSEL}]?[{_MOD}]?)"
_KEYCAP = f"(?:[0-9#*][{_PSEL}]?\u20e3)"
_TAGSEQ = "(?:[\U000e0020-\U000e007e]+\U000e007f)"
_EMOJI = (
    f"(?:[{_RI}]{{2}}|{_KEYCAP}|{_EMOJI_CORE}(?:[{_ZWJ}]{_EMOJI_CORE})*{_TAGSEQ}?)"
)

# WB4: X (Extend | Format | ZWJ)* -> X — combining marks and joiners are
# absorbed into the preceding token char (jflex ExtFmtZwj, :85). Python's
# \w excludes Mn/Mc marks, so common Extend ranges are listed explicitly;
# a token can never START with one (no base -> dropped, WB999).
_EXT = (
    "\u0300-\u036f\u0483-\u0489\u0591-\u05bd\u05bf\u05c1\u05c2\u05c4\u05c5\u05c7"
    "\u0610-\u061a\u064b-\u065f\u0670\u06d6-\u06dc\u06df-\u06e4\u06e7\u06e8"
    "\u06ea-\u06ed\u0711\u0730-\u074a\u07a6-\u07b0\u0816-\u0819\u081b-\u0823"
    "\u0825-\u0827\u0829-\u082d\u0859-\u085b\u08d4-\u08e1\u08e3-\u0903"
    "\u093a-\u093c\u093e-\u094f\u0951-\u0957\u0962\u0963\u0981-\u0983\u09bc"
    "\u09be-\u09c4\u09c7\u09c8\u09cb-\u09cd\u09d7\u09e2\u09e3"
    "\u0a01-\u0a03\u0a3c\u0a3e-\u0a42\u0a47\u0a48\u0a4b-\u0a4d\u0a51\u0a70\u0a71\u0a75"
    "\u0a81-\u0a83\u0abc\u0abe-\u0ac5\u0ac7-\u0ac9\u0acb-\u0acd\u0ae2\u0ae3"
    "\u0b01-\u0b03\u0b3c\u0b3e-\u0b44\u0b47\u0b48\u0b4b-\u0b4d\u0b56\u0b57\u0b62\u0b63"
    "\u0b82\u0bbe-\u0bc2\u0bc6-\u0bc8\u0bca-\u0bcd\u0bd7"
    "\u0c00-\u0c04\u0c3e-\u0c44\u0c46-\u0c48\u0c4a-\u0c4d\u0c55\u0c56\u0c62\u0c63"
    "\u0c81-\u0c83\u0cbc\u0cbe-\u0cc4\u0cc6-\u0cc8\u0cca-\u0ccd\u0cd5\u0cd6\u0ce2\u0ce3"
    "\u0d01-\u0d03\u0d3e-\u0d44\u0d46-\u0d48\u0d4a-\u0d4d\u0d57\u0d62\u0d63"
    "\u0d82\u0d83\u0dca\u0dcf-\u0dd4\u0dd6\u0dd8-\u0ddf\u0df2\u0df3"
    "\u0f18\u0f19\u0f35\u0f37\u0f39\u0f3e\u0f3f\u0f71-\u0f84\u0f86\u0f87"
    "\u0f8d-\u0f97\u0f99-\u0fbc\u0fc6\u135d-\u135f\u1712-\u1714\u1732-\u1734"
    "\u1752\u1753\u1772\u1773\u17b4-\u17d3\u17dd\u180b-\u180d"
    "\u1a7f\u1ab0-\u1abe\u1b00-\u1b04\u1b34-\u1b44\u1b6b-\u1b73\u1b80-\u1b82"
    "\u1ba1-\u1bad\u1be6-\u1bf3\u1c24-\u1c37\u1cd0-\u1cd2\u1cd4-\u1ce8"
    "\u1ced\u1cf2-\u1cf4\u1cf8\u1cf9\u1dc0-\u1df5\u1dfb-\u1dff"
    "\u200c\u200d\u20d0-\u20f0\u2cef-\u2cf1\u2d7f\u2de0-\u2dff\u302a-\u302f"
    "\u3099\u309a\ua66f-\ua672\ua674-\ua67d\ua69e\ua69f\ua6f0\ua6f1\ua802\ua806"
    "\ua80b\ua823-\ua827\ua880\ua881\ua8b4-\ua8c5\ua8e0-\ua8f1\ua926-\ua92d"
    "\ua947-\ua953\ua980-\ua983\ua9b3-\ua9c0\uaa29-\uaa36\uaa43\uaa4c\uaa4d"
    "\uaa7c\uaab0\uaab2-\uaab4\uaab7\uaab8\uaabe\uaabf\uaac1\uaaeb-\uaaef"
    "\uaaf5\uaaf6\uabe3-\uabea\uabec\uabed\ufb1e\ufe00-\ufe0f\uff9e\uff9f"
)

# "Other" word chars: \w minus the classes with their own token rules;
# Extend chars attach after a base char (WB4).
_WBASE = rf"(?:(?![{_CJK}{_SEA}{_KATA}])\w)"
_W = rf"{_WBASE}(?:{_WBASE}|[{_EXT}])*"
# a word segment: a katakana run, or an Other run with legal mid-joiners;
# segments chain only through an ExtendNumLet underscore (WB13a/b)
_SEG = rf"(?:[{_KATA}]+|{_W}(?:[.'’:,]{_W})*)"
_WORD_RE = re.compile(
    rf"{_EMOJI}|[{_CJK}]|[{_SEA}]+|{_SEG}(?:_{_SEG})*",
    re.UNICODE,
)
# ASCII fast path: same token language restricted to ASCII (no CJK, no
# U+2019), without the per-char lookahead -> ~4x faster on code corpora.
_ASCII_WORD_RE = re.compile(r"[0-9A-Za-z_]+(?:[.':,][0-9A-Za-z_]+)*")

# Post-filter for joiners that UAX#29 restricts (StandardTokenizerImpl.jflex
# WB6/7 = ALetter (MidLetter|MidNumLet) ALetter, WB11/12 = Numeric
# (MidNum|MidNumLet) Numeric — the joiner only joins SAME-type neighbors):
#   '.'/'\''/U+2019 (MidNumLet): letter-letter or digit-digit only, so
#       'sha256.update' -> sha256, update and 'v1.x' -> v1, x;
#   ':' (MidLetter): letter-letter only;
#   ',' (MidNum): digit-digit only;
#   '_' (ExtendNumLet) is neither ALetter nor Numeric -> never joins across.
# We split a matched run at every illegal joiner (the joiner is dropped).
_ILLEGAL_JOINER = re.compile(
    r"(?<=\d)[.'’](?=[^\d])|(?<=[^\d])[.'’](?=\d)|(?<=_)[.'’]|[.'’](?=_)"
    r"|(?<=[\d_]):|:(?=[\d_])"
    r"|(?<=\D),|,(?=\D)"
)

# Per-code-point lowercase exceptions where Python's str.lower() (context
# sensitive / multi-char) differs from java.lang.Character.toLowerCase.
_LOWER_FIX = str.maketrans({"İ": "i"})  # LATIN CAPITAL I WITH DOT


def _lower_cp(tok: str) -> str:
    """Per-code-point lowercase matching Character.toLowerCase semantics.

    Python's str.lower() applies final-sigma context rules; Java's
    per-code-point map does not, so a trailing capital sigma must become
    U+03C3, not U+03C2.
    """
    if tok.isascii():
        return tok.lower()
    low = tok.translate(_LOWER_FIX).lower()
    if low.endswith("ς") and not tok.endswith("ς"):
        low = low[:-1] + "σ"
    return low


def tokenize(text: str) -> List[str]:
    """StandardTokenizer-equivalent: UAX#29-subset segmentation, 255-char split."""
    if not text:
        return []
    out: List[str] = []
    word_re = _ASCII_WORD_RE if text.isascii() else _WORD_RE
    for run in word_re.findall(text):
        if "." in run or "'" in run or "’" in run or ":" in run or "," in run:
            pieces: Iterable[str] = _ILLEGAL_JOINER.split(run)
        else:
            pieces = (run,)
        for sp in pieces:
            sp = sp.strip(".'’:,")
            if not sp:
                continue
            while len(sp) > MAX_TOKEN_LEN:
                out.append(sp[:MAX_TOKEN_LEN])
                sp = sp[MAX_TOKEN_LEN:]
            if sp:
                out.append(sp)
    return out


def analyze(text: str, stop_words: frozenset = ENGLISH_STOP_WORDS) -> List[str]:
    """Full chain: tokenize -> lowercase -> stop filter (one string)."""
    return [t for tok in tokenize(text) if (t := _lower_cp(tok)) not in stop_words]


def analyze_with_positions(
    text: str, stop_words: frozenset = ENGLISH_STOP_WORDS
) -> List[tuple]:
    """Like analyze() but yields (term, position) where position is the
    token's index in the PRE-stop-filter token stream: StopFilter preserves
    position increments of removed tokens [StopFilter.java:96-97,
    FilteringTokenFilter.java:29-50], so stopwords consume positions and
    phrase matching sees the holes."""
    out: List[tuple] = []
    for pos, tok in enumerate(tokenize(text)):
        low = _lower_cp(tok)
        if low not in stop_words:
            out.append((low, pos))
    return out


def tokenize_with_spans(text: str) -> List[tuple]:
    """tokenize() + the (start, end) CHAR span of each token in the
    original text (OffsetAttribute analog: offsets refer to the un-lowered
    input, StandardTokenizer setAttributes). Same tokens in the same order
    as tokenize() on every input (tested)."""
    if not text:
        return []
    out: List[tuple] = []
    word_re = _ASCII_WORD_RE if text.isascii() else _WORD_RE
    for m in word_re.finditer(text):
        run, base = m.group(), m.start()
        if "." in run or "'" in run or "’" in run or ":" in run or "," in run:
            pieces, off = [], 0
            for sp in _ILLEGAL_JOINER.split(run):
                pieces.append((sp, off))
                off += len(sp) + 1  # the split joiner char is 1 char wide
        else:
            pieces = [(run, 0)]
        for sp, off in pieces:
            lead = len(sp) - len(sp.lstrip(".'’:,"))
            sp2 = sp.strip(".'’:,")
            if not sp2:
                continue
            start = base + off + lead
            while len(sp2) > MAX_TOKEN_LEN:
                out.append((sp2[:MAX_TOKEN_LEN], start, start + MAX_TOKEN_LEN))
                sp2 = sp2[MAX_TOKEN_LEN:]
                start += MAX_TOKEN_LEN
            if sp2:
                out.append((sp2, start, start + len(sp2)))
    return out


def analyze_with_offsets(
    text: str, stop_words: frozenset = ENGLISH_STOP_WORDS
) -> List[tuple]:
    """(term, position, start_char, end_char) per surviving token:
    analyze_with_positions + OffsetAttribute spans."""
    out: List[tuple] = []
    for pos, (tok, s, e) in enumerate(tokenize_with_spans(text)):
        low = _lower_cp(tok)
        if low not in stop_words:
            out.append((low, pos, s, e))
    return out


def analyze_batch(texts: pd.Series, stop_words: frozenset = ENGLISH_STOP_WORDS) -> pd.Series:
    """Arrow-batch analyze: pd.Series[str] -> pd.Series[list[str]].

    The regex work is per-row Python inside the batch (same as any
    tokenizer), but the Spark boundary is a vectorized pandas UDF.
    """
    vals = texts.to_numpy(dtype=object)
    out = np.empty(len(vals), dtype=object)
    for i, t in enumerate(vals):
        out[i] = analyze(t if isinstance(t, str) else "", stop_words)
    return pd.Series(out, index=texts.index)


def _ascii_token_spans(arr, n: int):
    """Vectorized (start, end) char spans of every [0-9A-Za-z_] run in an
    Arrow string array (byte == char for the ASCII docs this is used on):
    one boolean LUT gather over the concatenated value buffer + two
    flatnonzero calls — no per-doc Python. Returns (tok_docix, starts,
    ends) with doc-relative char offsets, tokens in stream order."""
    import pyarrow as pa

    lut = np.zeros(256, dtype=bool)
    for c in b"0123456789_abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
        lut[c] = True
    otype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    voff = np.frombuffer(arr.buffers()[1], dtype=otype)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    data = arr.buffers()[2]
    buf = (
        np.frombuffer(data, dtype=np.uint8)[voff[0] : voff[-1]]
        if data is not None and voff[-1] > voff[0]
        else np.empty(0, dtype=np.uint8)
    )
    base = voff[0]
    tok = lut[buf]
    db = voff - base  # doc start byte (relative), len n+1
    prev = np.concatenate(([False], tok[:-1]))
    nxt = np.concatenate((tok[1:], [False]))
    if len(tok):
        # doc boundaries break runs even when adjacent docs' bytes would
        # otherwise join into one [0-9A-Za-z_] run
        ds = db[:-1]
        prev[ds[ds < len(tok)]] = False
        de = db[1:] - 1
        nxt[de[(de >= 0) & (de < len(tok))]] = False
    starts = np.flatnonzero(tok & ~prev)
    ends = np.flatnonzero(tok & ~nxt) + 1
    tok_docix = np.searchsorted(db, starts, side="right") - 1
    rel = db[tok_docix]
    return tok_docix, starts - rel, ends - rel


def flat_code_tokens(
    arr,
    stop_words: frozenset = ENGLISH_STOP_WORDS,
    with_positions: bool = False,
    with_offsets: bool = False,
):
    """Arrow-native analyze for the index build hot path.

    Input: pa.Array/ChunkedArray of strings. Output:
      (codes int64[np], docix int64[np], vocab object[np][, positions int64[np]])
    where ``vocab[codes[i]]`` is the i-th surviving token of doc
    ``docix[i]``, tokens in document order within each doc. With
    ``with_positions`` each token also carries its index in the
    pre-stop-filter token stream (StopFilter position-increment semantics,
    see analyze_with_positions).

    The whole chain (lowercase, segment, empty/stop filter, dictionary
    encode) runs in Arrow C kernels — NO per-token Python objects; only
    the vocab (unique terms) materializes as Python strings. Docs that
    need the full UAX#29 treatment (non-ASCII, joiner chars, >255-char
    tokens) fall back to the reference ``analyze`` per doc; results are
    identical to ``analyze`` on every input (tested).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if with_offsets and not with_positions:
        raise ValueError("with_offsets requires with_positions")
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        empty = (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=object),
        )
        if with_positions:
            empty = empty + (np.empty(0, dtype=np.int64),)
        if with_offsets:
            empty = empty + (np.empty(0, dtype=np.int64),)
        return empty

    is_ascii = pc.string_is_ascii(arr.fill_null("")).to_numpy(zero_copy_only=False)
    clean = pc.if_else(pa.array(is_ascii), arr.fill_null(""), pa.scalar(""))
    lower = pc.ascii_lower(clean)
    lists = pc.split_pattern_regex(lower, pattern=r"[^0-9a-z_.':,]+")
    flat = pc.list_flatten(lists)
    # doc index per flat token via the Arrow kernel (np.repeat is slow)
    docix = pc.list_parent_indices(lists).to_numpy(zero_copy_only=False).astype(np.int64)
    flen = pc.binary_length(flat).to_numpy(zero_copy_only=False)
    keep = flen > 0
    # tokens needing UAX joiner rules / 255-char splitting -> doc fallback
    has_joiner = pc.match_substring_regex(flat, r"[.':,]").to_numpy(zero_copy_only=False)
    bad_tok = keep & (has_joiner | (flen > MAX_TOKEN_LEN))
    bad_docs = np.unique(docix[bad_tok])
    fallback_docs = np.union1d(bad_docs, np.flatnonzero(~is_ascii))
    if len(fallback_docs):
        in_bad = np.zeros(n, dtype=bool)
        in_bad[fallback_docs] = True
        keep &= ~in_bad[docix]
    flat_good = flat.filter(pa.array(keep))
    docix = docix[keep]
    positions = None
    if with_positions:
        # token index within its doc among non-empty tokens == the
        # pre-stop-filter token-stream position (empties from the regex
        # split are separators, not tokens; docix is sorted ascending)
        first_idx = np.searchsorted(docix, docix, side="left")
        positions = np.arange(len(docix), dtype=np.int64) - first_idx
    offsets = None
    if with_offsets:
        # hot-path docs contain NO joiner chars at all (any occurrence
        # routes the doc to the fallback), so their tokens are exactly the
        # [0-9A-Za-z_] runs of the original text — one LUT scan gives the
        # char spans, aligned 1:1 with the kept split tokens
        sdoc, sst, sen = _ascii_token_spans(clean, n)
        if len(fallback_docs):
            good = ~in_bad[sdoc]
            sdoc, sst, sen = sdoc[good], sst[good], sen[good]
        if len(sdoc) != len(docix) or not np.array_equal(sdoc, docix):
            raise AssertionError(
                "offset scan misaligned with token stream "
                f"({len(sdoc)} spans vs {len(docix)} tokens)"
            )
        # packed (start, length): length <= MAX_TOKEN_LEN < 512
        offsets = sst * np.int64(512) + (sen - sst)

    enc = pc.dictionary_encode(flat_good.combine_chunks() if isinstance(flat_good, pa.ChunkedArray) else flat_good)
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    vocab_list = enc.dictionary.to_pylist()
    # stop filter via vocab mask (vocab-sized work, not token-sized);
    # removed stopwords keep consuming positions (StopFilter semantics)
    if stop_words and vocab_list:
        stop_mask = np.fromiter((v in stop_words for v in vocab_list), dtype=bool, count=len(vocab_list))
        km = ~stop_mask[codes]
        codes, docix = codes[km], docix[km]
        if positions is not None:
            positions = positions[km]
        if offsets is not None:
            offsets = offsets[km]

    if len(fallback_docs):
        vmap = {v: i for i, v in enumerate(vocab_list)}
        extra_codes: List[int] = []
        extra_docix: List[int] = []
        extra_pos: List[int] = []
        extra_off: List[int] = []
        for d in fallback_docs:
            text = arr[int(d)].as_py()
            text = text if isinstance(text, str) else ""
            if with_offsets:
                for tok, pos, s, e in analyze_with_offsets(text, stop_words):
                    c = vmap.get(tok)
                    if c is None:
                        c = len(vocab_list)
                        vmap[tok] = c
                        vocab_list.append(tok)
                    extra_codes.append(c)
                    extra_docix.append(int(d))
                    extra_pos.append(pos)
                    extra_off.append(s * 512 + (e - s))
            else:
                for tok, pos in analyze_with_positions(text, stop_words):
                    c = vmap.get(tok)
                    if c is None:
                        c = len(vocab_list)
                        vmap[tok] = c
                        vocab_list.append(tok)
                    extra_codes.append(c)
                    extra_docix.append(int(d))
                    extra_pos.append(pos)
        if extra_codes:
            codes = np.concatenate((codes, np.array(extra_codes, dtype=np.int64)))
            docix = np.concatenate((docix, np.array(extra_docix, dtype=np.int64)))
            if positions is not None:
                positions = np.concatenate((positions, np.array(extra_pos, dtype=np.int64)))
            if offsets is not None:
                offsets = np.concatenate((offsets, np.array(extra_off, dtype=np.int64)))

    vocab = np.array(vocab_list, dtype=object)
    if with_offsets:
        return codes, docix, vocab, positions, offsets
    if with_positions:
        return codes, docix, vocab, positions
    return codes, docix, vocab
