"""Portable text scalar functions: tokenization, n-grams, normalization.

Each helper comes in two flavors with bit-identical semantics:
  spark_* -> Spark SQL expression string (JVM-side, whole-stage codegen)
  duck_*  -> DuckDB SQL expression string (for the driver's oracle check)

Reference parity notes (citations into /root/reference/):
- whitespace tokenization + low-frequency/stopword filtering mirrors
  Normalization/recall/tools/text_preprocess.py:17-116 (char / word / 2-gram
  cutters); for the source-code corpus we tokenize on whitespace and on an
  identifier regex instead of jieba.
- full-width->half-width (Q2B) mirrors AutoPhraseX-main/autophrasex/utils.py:33-42.
- NFD + Mn-strip + lower mirrors ExtractionEntities/utils/tools.py:47-75; the
  full Unicode path lives in a pandas UDF (normalize_series) because neither
  engine exposes NFD in SQL; the portable SQL path is lower+trim.
"""

from __future__ import annotations

import unicodedata

import pandas as pd

# ---------------- SQL literal quoting ----------------

def sql_quote(s: str) -> str:
    """Escape a string for embedding in a single-quoted SQL literal (both
    engines double embedded quotes); free-text strata / candidate type names
    may contain quotes."""
    return str(s).replace("'", "''")


# ---------------- tokenization ----------------

def spark_tokens(col: str) -> str:
    return f"filter(split({col}, ' '), x -> x != '')"


def duck_tokens(col: str) -> str:
    return f"list_filter(string_split({col}, ' '), x -> x <> '')"


# ---------------- n-grams (word shingles) ----------------

def spark_ngrams(tokens_expr: str, n: int, sep: str = " ") -> str:
    """All contiguous word n-grams, joined by `sep`; [] when too short."""
    return (
        f"CASE WHEN size({tokens_expr}) >= {n} THEN "
        f"transform(sequence(1, size({tokens_expr}) - {n} + 1), "
        f"i -> concat_ws('{sep}', slice({tokens_expr}, i, {n}))) "
        f"ELSE array() END"
    )


def duck_ngrams(tokens_expr: str, n: int, sep: str = " ") -> str:
    return (
        f"CASE WHEN len({tokens_expr}) >= {n} THEN "
        f"list_transform(range(len({tokens_expr}) - {n} + 1), "
        f"i -> array_to_string(list_slice({tokens_expr}, i + 1, i + {n}), '{sep}')) "
        f"ELSE [] END"
    )


# ---------------- full-fidelity normalization (pandas UDF path) ----------------

_Q2B = {0x3000: 0x20}
_Q2B.update({c: c - 0xFEE0 for c in range(0xFF01, 0xFF5F)})


def q2b(s: str) -> str:
    """Full-width -> half-width (reference: autophrasex/utils.py:33-42 semantics)."""
    return s.translate(_Q2B)


# Traditional -> simplified Chinese (reference: autophrasex/tokenizer.py:29-31
# uses opencc's t2s; opencc is not shipped in this image, so a table-driven
# mapping of the high-frequency traditional forms covers the normalization
# contract — extend the table, or swap in opencc via --py-files, for full
# coverage on a real cluster).
_T2S_PAIRS = (
    "國国 學学 醫医 藥药 體体 臺台 灣湾 語语 說说 車车 馬马 魚鱼 鳥鸟 龍龙 "
    "電电 腦脑 機机 關关 開开 門门 問问 間间 聞闻 書书 讀读 寫写 話话 請请 "
    "謝谢 對对 愛爱 樂乐 買买 賣卖 錢钱 銀银 長长 風风 雲云 飛飞 廣广 東东 "
    "華华 漢汉 憶忆 業业 處处 務务 經经 濟济 時时 會会 員员 點点 號号 兒儿 "
    "幾几 麼么 這这 們们 來来 個个 為为 與与 萬万 數数 網网 頁页 類类 熱热 "
    "線线 約约 級级 紅红 綠绿 藍蓝 雜杂 誌志 報报 紙纸 圖图 畫画 發发 現现 "
    "實实 觀观 聽听 認认 識识 記记 錄录 統统 計计 標标 準准 確确 測测 試试"
)
_T2S = str.maketrans({p[0]: p[1] for p in _T2S_PAIRS.split()})


def t2s(s: str) -> str:
    """Traditional -> simplified Chinese, table-driven."""
    return s.translate(_T2S)


def nfd_strip_lower(s: str) -> str:
    """NFD + strip combining marks + lower (reference: utils/tools.py:47-75)."""
    return "".join(
        c for c in unicodedata.normalize("NFD", s) if unicodedata.category(c) != "Mn"
    ).lower()


def normalize_series(s: pd.Series) -> pd.Series:
    """Vectorized full normalization for use inside Arrow-batched UDFs:
    t2s -> Q2B -> NFD + Mn-strip + lower (the reference tokenizer's chain,
    autophrasex/tokenizer.py:26-35)."""
    return s.map(lambda x: nfd_strip_lower(q2b(t2s(x))) if x is not None else None)


# ---------------- BM25 cut modes (text_preprocess.py:17-116) ----------------
# 'word'  = whitespace cut (jieba replaced by the documented ident policy)
# 'char'  = character cut (cutCharDataProcess, spaces are the stoplist)
# '2gram' = the reference's mixed n-gram cut (ngramDataProcess): on the
#           space-stripped string, char 2-grams starting at 0..len-3 PLUS
#           every single char; empty when len <= 2 (reference boundary quirk
#           preserved: the 2-gram ending at the last char is NOT emitted).

def spark_mode_tokens(col: str, mode: str = "word") -> str:
    if mode == "word":
        return spark_tokens(col)
    if mode == "char":
        return f"regexp_extract_all({col}, '[^ ]', 0)"
    if mode == "2gram":
        s = f"replace({col}, ' ', '')"
        return (
            f"CASE WHEN length({s}) > 2 THEN concat("
            f"transform(sequence(1, length({s}) - 2), i -> substring({s}, i, 2)), "
            f"transform(sequence(1, length({s})), i -> substring({s}, i, 1))"
            f") ELSE array() END"
        )
    raise ValueError(f"unknown cut mode {mode!r}")


def duck_mode_tokens(col: str, mode: str = "word") -> str:
    if mode == "word":
        return duck_tokens(col)
    if mode == "char":
        return f"regexp_extract_all({col}, '[^ ]')"
    if mode == "2gram":
        s = f"replace({col}, ' ', '')"
        return (
            f"CASE WHEN length({s}) > 2 THEN list_concat("
            f"list_transform(range(1, length({s}) - 1), i -> substr({s}, CAST(i AS INT), 2)), "
            f"list_transform(range(1, length({s}) + 1), i -> substr({s}, CAST(i AS INT), 1))"
            f") ELSE [] END"
        )
    raise ValueError(f"unknown cut mode {mode!r}")
