"""PySpark-native main-content / field-extraction engine.

Brand-new implementation with the capabilities of pardrickgee/pdf-extractor2,
re-expressed Spark-first (SURVEY.md). Corpus-level work is DataFrame-native;
per-document extraction runs inside vectorized pandas/Arrow UDFs.
"""

__version__ = "0.1.0"

from .worker_imports import install_zip_cache_guard

# once per process: a Python worker that unpickles any package kernel
# stops re-reading unchanged zip archives before each task
install_zip_cache_guard()
