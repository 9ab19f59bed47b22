"""ocr_spark — a PySpark-native batch extraction engine.

Re-expresses the extraction dataflow of the reference OCR-invoice service
(radomamitiana/ocr, vendored read-only at /root/reference) as a Spark
DataFrame job over tables of interleaved text+media documents:

    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)
      -> normalized text spans + typed field spans
      -> extracted_spans / invoices tables (manifest-checkpointed parquet)

Design rules (see SURVEY.md / BASELINE.json north rule):
  * DataFrame/SQL first; all per-row logic in vectorized pandas/Arrow UDFs
    (`pandas_udf` / `applyInPandas` / `mapInArrow`) — never row-at-a-time
    Python UDFs.
  * One shared pure-pandas "kernel" (ocr_spark.kernel) implements the
    reference's extraction semantics exactly; both the Spark UDFs and the
    golden-fixture generator import it.
  * Enrichment joins are broadcast; documents are salted-repartitioned by
    doc_id hash; oversized PDFs split to page-level rows and re-assembled.
"""

from ocr_spark import zipcache

__version__ = "0.1.0"

# Python workers import this package to run an engine UDF; from then on
# their per-task importlib.invalidate_caches() skips unchanged zip archives
zipcache.install()
