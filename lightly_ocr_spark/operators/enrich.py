"""Combined enrichment stage: language-ID + fluency + top-bigram repetition
in ONE Arrow crossing.

Fused like the segment+decode extraction UDF (SURVEY.md §2.9), as one
scalar Arrow UDF over `text`: only the text crosses into Python, the other
columns stay in the JVM, and the scores land on the rows they came from."""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from lightly_ocr_spark.operators.fluency import bigram_logp
from lightly_ocr_spark.operators.langid import detect_lang

_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_SIX_DP = Decimal("0.000001")


def _top_bigram_frac(text: str) -> float:
    """Share of the hottest word-bigram among all bigrams — SAME
    tokenization contract as `textstats.repetition_signals_df` (lowercase
    whitespace split, adjacent pairs), so the --max-rep gate means the
    same thing whichever stage computes it.  Counted here because it is
    ~free inside the Arrow crossing the pipeline already pays, while the
    JVM sorted-run fold costs ~110 s per 200 k docs as its own pass."""
    # Java-regex \s is ASCII-only ([ \t\n\x0b\f\r]); Python str.split()
    # splits on ALL Unicode whitespace (NBSP, ideographic space — common
    # in web text), which would tokenize such docs differently from the
    # JVM operator.  Split on exactly Java's class.
    words = _JAVA_WS.split(text.lower())
    words = [w for w in words if w]
    if len(words) < 2:
        return 0.0
    from collections import Counter

    counts = Counter(zip(words, words[1:]))
    frac = max(counts.values()) / (len(words) - 1)
    # HALF_UP at 6dp exactly as Spark rounds: BigDecimal.valueOf(double)
    # goes through Double.toString (shortest repr), then setScale(6,
    # HALF_UP) — Decimal(repr(x)).quantize replicates both steps, where
    # floor(x*1e6+0.5) can misround when x*1e6 loses the tie in binary.
    return float(
        Decimal(repr(frac)).quantize(_SIX_DP, rounding=ROUND_HALF_UP)
    )


# a typed schema, not a DDL string: parsing DDL needs a live session, and
# this module is imported before one exists
@pandas_udf(StructType([
    StructField("lang_pred", StringType()),
    StructField("bigram_logp", DoubleType()),
    StructField("top_bigram_frac", DoubleType()),
]))
def _enrich(texts: pd.Series) -> pd.DataFrame:
    return pd.DataFrame({
        "lang_pred": texts.map(detect_lang),
        "bigram_logp": texts.map(bigram_logp).astype("float64"),
        "top_bigram_frac": texts.map(_top_bigram_frac).astype("float64"),
    })


def enrich_pages(df: DataFrame) -> DataFrame:
    """df -> df with `lang_pred`, `bigram_logp` and `top_bigram_frac`
    appended, every input row and column kept; one Python stage."""
    return df.withColumn("_e", _enrich("text")).select(*df.columns, "_e.*")
