"""pdf_extraction_ai_agent_spark — a PySpark-native main-content extraction engine.

A brand-new, Spark-first re-expression of the query/data-processing
capabilities of the reference repo ``DipayanAwsm/pdf_Extraction_AI_AGENT``
(insurance loss-run document extraction): payload sniffing (HTML / pseudo-PDF
byte-stream / plain text), boilerplate stripping via text-density +
link-density node scoring, layout parsing with reading-order sort, regex
field extraction, LOB classification, normalization, aggregation — all
declared as DataFrame plans so Catalyst/Tungsten pick the physical strategy,
with the single heavy stage expressed as a vectorized Arrow UDF whose
body never imports pandas.

Design target: a 10^12-turn Iceberg transcript table on a 1000-executor
cluster. Tested at small scale on local[*].
"""

from .zipguard import install_zip_invalidation_guard

install_zip_invalidation_guard()

__version__ = "0.1.0"
