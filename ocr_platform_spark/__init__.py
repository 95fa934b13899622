"""ocr_platform_spark — a from-scratch PySpark-native reimplementation of the
extraction semantics of ``binhntt2020/OCR-platform`` (reference read-only at
``/root/reference``).

The reference is a FastAPI/Celery/MinIO OCR service; this package re-expresses its
compute core (preprocess -> detect -> recognize -> postprocess, per document page)
as a batch Spark DataFrame job over an Iceberg-style table of interleaved
text + media documents:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Design (see SURVEY.md for the full blueprint):

* All heavy per-page compute lives in vectorized Arrow ``mapInPandas`` stages —
  no per-row Python UDFs anywhere.
* The deep-learning kernels of the reference (CRAFT detector, VietOCR
  recognizer) are pruned from its checkout (``/root/reference/.MISSING_LARGE_BLOBS``),
  so deterministic stand-in kernels with identical interfaces are used
  (:mod:`ocr_platform_spark.kernels`); every surrounding semantic — resize ratio
  math, crop clamping, tall-box strip splitting, unicode trim, truncation
  alignment, reading order — is byte-exact to the reference source (cited
  file:line in each docstring).
* A single-node pure-Python oracle (:mod:`ocr_platform_spark.oracle`) runs the
  same semantics; pytest asserts per-document span-sequence equality
  ``(kind, text, media_ref, order)`` between the Spark job and the oracle.
"""

from . import _zipimport  # noqa: F401  (lazy zip-import invalidation)

__version__ = "0.1.0"

PIPELINE_VERSION = "v2-commercial"  # ref: libs/ocr_core/ocr_core/domain/models.py:26
