"""bionext_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimplementation of the *capabilities* of ieeta-pt/BioNExt
(tagger → linker → extractor biomedical relation pipeline, see
/root/reference) re-expressed as a columnar, distributed Spark DataFrame
pipeline over tables of multi-turn conversation transcripts:

    transcripts(conv_id, turn_idx, role, text, tool, ts)
        → conversations (assembled docs + turn offset maps)
        → mentions      (BIO span tagging; windowed batched inference)
        → links         (lexicon cascade + embedding similarity + vote)
        → pairs         (type-masked candidate self-join)
        → triples       (relation + novelty classification, aggregated)
        → edges/vertices (canonicalized graph via connected components)

Design notes
------------
* DataFrame/SQL first: every relational step (joins, majority vote,
  re-numbering, pair generation, logit aggregation) is expressed with
  built-in pyspark.sql functions so Catalyst handles pushdown, broadcast
  selection and AQE. Python only runs inside vectorized Arrow UDF kernels
  (tokenize/window/decode/encode/classify) — never per row.
* Model adapters are pluggable; the default "stub" adapters are pure
  deterministic functions (bionext_spark.kernels) shared verbatim with the
  pure-Python oracle (bionext_spark.oracle) so engine output is
  exactly-comparable in tests.
* Every stage boundary is a checkpointed table (bionext_spark.sources
  .catalog) with per-partition lineage + metrics manifests; stages resume
  idempotently by snapshot.
"""

__version__ = "0.1.0"

import sys as _sys


def _reuse_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive file changed (Python < 3.12).

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task (``setup_spark_files``). On 3.11 that makes each of the ~16
    zipimporters over ``pyspark.zip`` re-read its whole directory (1,328
    entries), 0.2-0.4 s per task even on a reused worker, which is most of
    a tiny Python task. Here a directory is reused while the archive's
    ``(st_mtime_ns, st_size, st_ino)`` equals the stamp taken at its last
    read, so a changed zip is still re-read; CPython 3.12 made the call
    lazy in the same spirit (gh-103200). Every kernel module imports this
    package, so a reused worker pays at most one read per archive."""
    if _sys.version_info >= (3, 12):
        return
    import os
    import zipimport

    cache = zipimport._zip_directory_cache
    stamps: dict[str, tuple[int, int, int]] = {}

    def stamp(archive: str) -> tuple[int, int, int] | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size, st.st_ino)

    def invalidate_caches(self) -> None:
        archive = self.archive
        try:
            # stamp before reading: a change in between shows at the next call
            now = stamp(archive)
            if now is None or now != stamps.get(archive) or archive not in cache:
                cache[archive] = zipimport._read_directory(archive)
                stamps[archive] = now
            self._files = cache[archive]
        except zipimport.ZipImportError:
            cache.pop(archive, None)
            stamps.pop(archive, None)
            self._files = {}

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reuse_zip_directories()
