"""Budget / price / keyword extraction (SURVEY §2.D D7/D8/D12/D13).

The reference extracts with sequential Python regex loops
(src/data_analyzer.py:192-304, src/reply_analyzer.py:149-268); here
each extraction is a declarative plan:

- D7 first-match-wins budget: regexp_extract_all per pattern →
  posexplode (keeps match order) → normalize units → range filter →
  min over (pattern_rank, match_pos) — the explicit total order that
  replaces Python's "first pattern, first match" control flow
  (SURVEY §4.3 determinism note).
- D8 all-matches price extraction: same machinery, no first-wins.
- D12 keyword mentions with context windows: broadcast keyword dim ×
  posts, vectorized find-all in a pandas UDF → explode.
- D13 purpose/special-req category flags: one rlike per category.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from voz_spark.textops import normalize_money_value

_UNITS = r"(tr|triệu|củ|m|k|nghìn|đồng|vnd)"
_NUM = r"(\d+[.,]?\d*)"

# D7: budget patterns in priority order (reference has 6 alternations,
# src/data_analyzer.py:123-130 — first pattern, first in-range match wins)
BUDGET_PATTERNS = [
    rf"ngân sách\s*{_NUM}\s*{_UNITS}?",
    rf"budget\s*{_NUM}\s*{_UNITS}?",
    rf"tầm\s*{_NUM}\s*{_UNITS}",
    rf"khoảng\s*{_NUM}\s*{_UNITS}",
    rf"chi được\s*{_NUM}\s*{_UNITS}",
    rf"{_NUM}\s*(tr|triệu|củ)\b",
]

# D8: price pattern — all in-range matches collected
PRICE_PATTERN = rf"(?:giá|chỉ|tầm|khoảng)?\s*{_NUM}\s*{_UNITS}\b"

BUDGET_RANGE = (1.0, 100.0)  # triệu (reference src/data_analyzer.py:212)
PRICE_RANGE = (0.1, 50.0)  # triệu (reference src/reply_analyzer.py:203)


def extract_budget(df: DataFrame, text_col: str = "text_clean") -> DataFrame:
    """D7: adds `budget` (triệu, double, nullable) — first in-range
    match by (pattern_rank, match_pos) per row key `post_id`."""
    parts = []
    for rank, pat in enumerate(BUDGET_PATTERNS):
        # pattern passed as a Column literal: SQL string literals would
        # eat the backslashes in \s / \d
        vals = F.regexp_extract_all(F.col(text_col), F.lit(pat), 1)
        units = F.regexp_extract_all(F.col(text_col), F.lit(pat), 2)
        parts.append(
            df.select(
                "post_id",
                F.lit(rank).alias("pattern_rank"),
                F.posexplode(F.arrays_zip(vals.alias("v"), units.alias("u"))).alias(
                    "match_pos", "m"
                ),
            )
        )
    matches = parts[0]
    for p in parts[1:]:
        matches = matches.unionByName(p)
    matches = matches.select(
        "post_id",
        "pattern_rank",
        "match_pos",
        normalize_money_value(F.col("m.v"), F.col("m.u")).alias("val"),
    ).where(F.col("val").between(*BUDGET_RANGE))
    w = Window.partitionBy("post_id").orderBy("pattern_rank", "match_pos")
    first = (
        matches.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("post_id", F.col("val").alias("budget"))
    )
    return df.join(first, "post_id", "left")


def extract_prices(df: DataFrame, text_col: str = "text_clean") -> DataFrame:
    """D8: one row per in-range price mention (post_id, price)."""
    vals = F.regexp_extract_all(F.col(text_col), F.lit(PRICE_PATTERN), 1)
    units = F.regexp_extract_all(F.col(text_col), F.lit(PRICE_PATTERN), 2)
    return (
        df.select(
            "post_id",
            F.posexplode(F.arrays_zip(vals.alias("v"), units.alias("u"))).alias("match_pos", "m"),
        )
        .select(
            "post_id",
            "match_pos",
            normalize_money_value(F.col("m.v"), F.col("m.u")).alias("price"),
        )
        .where(F.col("price").between(*PRICE_RANGE))
    )


# D12: component keyword dictionary (semantics of the reference's
# COMPONENT_KEYWORDS, src/data_analyzer.py:35-79)
COMPONENT_KEYWORDS: dict[str, list[str]] = {
    "cpu": ["cpu", "i5", "i7", "ryzen", "chip", "intel core"],
    "gpu": ["gpu", "vga", "rtx", "gtx", "card đồ họa", "nvidia"],
    "ram": ["ram"],
    "storage": ["ssd", "hdd", "ổ cứng"],
    "mainboard": ["main", "mainboard", "bo mạch"],
    "psu": ["nguồn", "psu"],
    "case": ["case", "vỏ máy"],
    "monitor": ["màn hình", "monitor"],
}

# D13: purpose categories (reference PURPOSE_KEYWORDS,
# src/data_analyzer.py:82-120)
PURPOSE_KEYWORDS: dict[str, list[str]] = {
    "gaming": ["gaming", "game", "chơi game"],
    "office": ["văn phòng", "làm việc", "office"],
    "design": ["đồ họa", "design", "render"],
    "study": ["học tập", "sinh viên"],
}

_MENTION_SCHEMA = "array<struct<pos:int, context:string>>"


def detect_keywords(
    df: DataFrame,
    keywords: dict[str, list[str]] | None = None,
    text_col: str = "text_clean",
    ctx_before: int = 50,
    ctx_after: int = 100,
) -> DataFrame:
    """D12: one row per (post_id, component_type, keyword, pos, context).

    Plan shape: posts × broadcast(keyword dim) — O(n·k) but exact,
    matching the reference's per-keyword finditer loop
    (src/data_analyzer.py:244-274); the find-all runs vectorized per
    Arrow batch. A JVM `contains` prefilter keeps only the (post,
    keyword) pairs whose text holds the keyword as a literal substring,
    which every word-bounded match of the keyword needs, so Python sees
    candidates only (null text fails it, as it yields no mention).
    Context window [-ctx_before, +ctx_after] chars.
    """
    keywords = keywords or COMPONENT_KEYWORDS
    spark = df.sparkSession
    kw_rows = [
        {"component_type": t, "keyword": k} for t, ks in sorted(keywords.items()) for k in ks
    ]
    kw = F.broadcast(spark.createDataFrame(pd.DataFrame(kw_rows)))

    @pandas_udf(_MENTION_SCHEMA)
    def find_all(texts: pd.Series, kws: pd.Series) -> pd.Series:
        out = []
        for text, k in zip(texts, kws):
            if text is None:
                out.append([])
                continue
            hits = []
            for m in re.finditer(rf"\b{re.escape(k)}\b", text):
                lo = max(0, m.start() - ctx_before)
                hi = min(len(text), m.end() + ctx_after)
                hits.append({"pos": m.start(), "context": text[lo:hi]})
            out.append(hits)
        return pd.Series(out)

    crossed = (
        df.select("post_id", text_col)
        .crossJoin(kw)
        .where(F.col(text_col).contains(F.col("keyword")))
    )
    return (
        crossed.withColumn("mentions", find_all(F.col(text_col), F.col("keyword")))
        .where(F.size("mentions") > 0)
        .select(
            "post_id",
            "component_type",
            "keyword",
            F.explode("mentions").alias("m"),
        )
        .select("post_id", "component_type", "keyword", F.col("m.pos").alias("pos"), F.col("m.context").alias("context"))
    )


def detect_categories(
    df: DataFrame,
    categories: dict[str, list[str]] | None = None,
    text_col: str = "text_clean",
    out_col: str = "purposes",
) -> DataFrame:
    """D13: array of matched categories via one case-insensitive rlike
    alternation per category (first matching keyword sets the flag —
    boolean, not positional, like the reference)."""
    categories = categories or PURPOSE_KEYWORDS
    flags = [
        F.when(
            F.col(text_col).rlike("(?i)\\b(" + "|".join(re.escape(k) for k in ks) + ")\\b"),
            F.lit(cat),
        )
        for cat, ks in sorted(categories.items())
    ]
    return df.withColumn(out_col, F.array_compact(F.array(*flags)))
