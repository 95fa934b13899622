"""The extraction pipeline's stages under their real-codec names
(scanned PDF, multi-page G4 TIFF, PNG, JPEG, the office/book/mail
containers and the text tiers) — the end-to-end path a user of the
reference actually runs (``apps/worker/app/tasks/ocr_tasks.py:34-55``
decodes uploaded PDF/image bytes with fitz/PIL before detect+recognize).

There is one pipeline and one entry point (:mod:`.extract`): probe →
page buckets → bucket OCR through the tier table (:data:`..tiers.TIERS`)
→ span assembly, for every media kind, the synthetic SPDF1/SIMG1
containers included. Each name here IS the :mod:`.extract` function
(``extract_real_documents is extract.extract_documents``); the package
imports the :mod:`.extract` names, and this module stays as the
re-export for code written against the real-codec names.
"""

from ..tiers import TIERS  # noqa: F401  (the table the probe kinds index)
from .extract import (  # noqa: F401
    DEFAULT_BUCKET_PAGES,
    MEDIA_KIND_ERROR,
    decode_pages as real_page_buckets,
    extract_documents as extract_real_documents,
    media_errors as real_media_errors,
    ocr_blocks as ocr_real_blocks,
)
