"""Token-array ⇄ raw-line codec (BASELINE.json input_hint).

The pipeline input is an Iceberg/parquet table of pre-tokenized lines:
(doc_id string, tokens array<int32>, n_tok int32, source string) where
tokens are the UTF-8 byte values of the raw syslog line.  These are
Arrow-vectorized pandas UDFs (never per-row Python UDFs); the per-row
invariant is exact round-trip equality: retokenize(detokenize(t)) == t.

`decode_tokens` is the one token decoder: the `detokenize` UDF here and
the fused detokenize+parse UDF (pysyslog.parser) both call it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType


def decode_tokens(tokens: pd.Series) -> pd.Series:
    """Token arrays -> raw lines (strict UTF-8); a null array decodes
    to None."""
    return pd.Series(
        [None if a is None
         else np.asarray(a, dtype=np.uint8).tobytes().decode("utf-8", "strict")
         for a in tokens],
        index=tokens.index, dtype=object,
    )


def _retok_series(lines):
    def one(s):
        if s is None:
            return None
        return np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype("int32")

    return lines.map(one)


def detokenize(df, tokens_col: str = "tokens", out_col: str = "raw"):
    """tokens array<int32> -> raw line string column."""
    udf = F.pandas_udf(decode_tokens, StringType())
    return df.withColumn(out_col, udf(F.col(tokens_col)))


def retokenize(df, raw_col: str = "raw", out_col: str = "tokens_rt"):
    """raw line string -> tokens array<int32> (round-trip verification)."""
    udf = F.pandas_udf(_retok_series, ArrayType(IntegerType()))
    return df.withColumn(out_col, udf(F.col(raw_col)))


def roundtrip_violations(df, tokens_col: str = "tokens", raw_col: str = "raw"):
    """DataFrame of rows violating the token-array equality invariant.
    The comparison itself is a JVM-side array equality (no shuffle)."""
    rt = retokenize(df, raw_col=raw_col, out_col="__tokens_rt")
    return rt.filter(~(F.col(tokens_col) == F.col("__tokens_rt"))).drop("__tokens_rt")
