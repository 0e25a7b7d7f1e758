"""PySpark-native main-content extraction engine.

A from-scratch reimplementation (NOT a port) of the extraction semantics of
``JonnoB/reading_the_unreadable`` (reference at /root/reference, studied for
behavior only): over a table of interleaved text + media documents
``docs(doc_id string, spans array<struct<kind,text,media_ref,offset:int>>)``
it runs layout analysis, multi-column reading-order reconstruction,
OCR post-correction normalization, and article/span-sequence construction —
entirely with Spark DataFrame transformations, window functions, and
vectorized pandas/Arrow UDFs (zero row-at-a-time Python UDFs).
"""

from .execution import skip_unchanged_archive_rereads

__version__ = "0.1.0"

# every Python worker that unpickles an operator UDF imports the package,
# so this runs on the workers, where each task re-reads sys.path archives
skip_unchanged_archive_rereads()
