"""The extraction pipeline's real-codec entry names (scanned PDF,
multi-page G4 TIFF, PNG, JPEG, the office/book/mail containers and the
text tiers) — the end-to-end path a user of the reference actually runs
(``apps/worker/app/tasks/ocr_tasks.py:34-55`` decodes uploaded
PDF/image bytes with fitz/PIL before detect+recognize).

There is one pipeline (:mod:`.extract`): probe → page buckets → bucket
OCR through the tier table (:data:`..tiers.TIERS`) → span assembly, for
every media kind, the synthetic SPDF1/SIMG1 containers included. These
names are its stages at the real-codec default of
:data:`DEFAULT_BUCKET_PAGES` pages per bucket; the flagship names in
:mod:`.extract` run the same stages at one page per bucket.
"""

from ..tiers import TIERS  # noqa: F401  (the table the probe kinds index)
from .extract import (  # noqa: F401
    DEFAULT_BUCKET_PAGES,
    MEDIA_KIND_ERROR,
    extract_real_documents,
    ocr_real_blocks,
    real_media_errors,
    real_page_buckets,
)
