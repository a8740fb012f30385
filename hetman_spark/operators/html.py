"""HTML payload extraction — the webtext analog of hetman's parse stage.

The html binary column plays pipeline.Data.LogLine
(/root/reference/internal/pipeline/pipeline.go:3-8); extraction pulls
(title, text, embedded access-log line) the way the reference parser
pulls Parsed fields from LogLine.

Correctness invariant (BASELINE.json input_hint): the extracted text
must be BYTE-IDENTICAL per url to the table's golden `text` column.
To make that achievable, decoding is pinned: utf-8, errors="strict"
(generation writes valid utf-8), and extraction is a fixed
DOTALL-regex over the decoded string.

The parse is one Arrow-batched pandas UDF (make_full_extract_udf, the
north-star "vectorized pandas/Arrow UDF grok/regex parse of the html
byte column"): one pd.Series.str.extract per batch over a combined
html-template + grok regex — the regex runs in C over the whole
batch, no per-row Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The page template is defined by the generator
# (hetman_spark/sources/webtext.py); these patterns are its inverse.
_EXTRACT_RE = (
    r"(?s)^<html><head><title>(?P<title>.*?)</title></head>"
    r"<body><p>(?P<text>.*?)</p><!--log: (?P<log_line>.*?) --></body></html>$"
)



def make_full_extract_udf(grok_pattern: str):
    """ONE Arrow-batched UDF doing the whole parse stage: decode html,
    extract the text AND the grok fields of the embedded access-log
    line in a single combined regex pass per batch.

    Motivation (measured at 100k rows, local[32]): two chained pandas
    UDFs (html fields, then grok on log_line) cost ~70s vs ~17s for a
    pure-JVM regexp_extract parse — the html payload crossed the Arrow
    boundary twice and the regex scanned each page twice.  The
    combined UDF crosses once and scans once; a second, cheaper pass
    handles only the rows whose embedded line did NOT match the grok
    pattern (template matches, log doesn't) so P6 passthrough still
    holds.

    The returned struct omits title and log_line (the regex still
    captures them).  Spark does not push struct-field pruning into a
    Python UDF, so an unused field still pays Python string assembly +
    Arrow serialization for every row — ~210 bytes/row here, ~0.8 GB
    of memory traffic per 4M rows — and the pipeline row shape
    (FIXTURES §5) never carries them.

    Returns (udf, field_names) where the struct is text + the grok
    fields.
    """
    from hetman_spark.operators.parse import grok_to_regex

    grok_named, grok_fields = grok_to_regex(grok_pattern, named=True)
    # inner grok regex, de-anchored, spliced where the template has log_line
    inner = grok_named.removeprefix("^").removesuffix("$")
    combined = (
        r"(?s)^<html><head><title>(?P<title>.*?)</title></head>"
        r"<body><p>(?P<text>.*?)</p><!--log: (?P<log_line>" + inner + r") --></body></html>$"
    )
    all_fields = ["text", *grok_fields]
    ret_type = T.StructType([T.StructField(f, T.StringType()) for f in all_fields])

    @F.pandas_udf(ret_type)
    def full_extract(html: pd.Series) -> pd.DataFrame:
        decoded = html.str.decode("utf-8")
        out = decoded.str.extract(combined)
        missed = out["text"].isna()
        if missed.any():
            # fallback: template may match even when the log line does
            # not parse (P6: keep the text, null grok fields)
            out.loc[missed, "text"] = decoded[missed].str.extract(_EXTRACT_RE)["text"]
        return out[all_fields]

    return full_extract, all_fields
