"""Operator library — one module per operator family.

Each operator is a plain function ``op(df, ...) -> DataFrame`` (composable
via ``df.transform``), the Spark-idiomatic form of the reference's
DataFrame-extension trait (src/dataframe/sample.rs:11-26):
``sample_op`` is its ``df.transform`` form and
``install_dataframe_extensions`` injects it as ``df.bx_sample``. Validation
happens eagerly at call time (plan-construction), execution stays lazy.
"""

from ballista_extensions_spark.operators.sample import (
    install_dataframe_extensions,
    sample,
    sample_op,
)

__all__ = ["sample", "sample_op", "install_dataframe_extensions"]
