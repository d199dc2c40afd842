"""crawlers_spark — a PySpark-native URL-frontier & fetch-scheduler engine.

A from-scratch re-expression of the capabilities of tf-swarm/Crawlers
(reference at /root/reference, see SURVEY.md) as an idiomatic Spark
DataFrame + vectorized pandas/Arrow-UDF pipeline:

* ``functions``  — vectorized kernels: URL canonicalization + 64-bit
  hashing, numpy image codecs (PNG/PPM), perceptual hash, PSNR,
  ISO-duration / month-name date parsing.
* ``sources``    — the testdata table scan, the deterministic synthetic
  web + ``mapInPandas`` fetch stage.
* ``operators``  — the fused frontier step (dedup + exact seen-set +
  robots + per-host politeness schedule in one bucket-local cogroup;
  per-bucket Bloom blobs are an optional pre-filter of its seen probe
  that a caller passes, and the crawl loop builds none), dedup family
  (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
  similarity search, near-dup cluster closure (connected components),
  deterministic mixture sampling + benchmark decontamination.
* ``plans``      — the generation crawl loop with checkpoint/resume,
  per-partition lineage and metrics.
* ``streaming``  — Structured-Streaming generation driver.
* ``queries``    — the driver-contract registry: 269 Spark queries, 254
  of them with a DuckDB oracle.

Everything data-parallel is DataFrame-first; Python appears only inside
Arrow-batched pandas UDFs (no per-row Python in any hot path).

Importing the package wraps ``zipimport.zipimporter.invalidate_caches``
(``_zipcache``). PySpark's worker calls ``importlib.invalidate_caches()``
before every task, and on CPython 3.11 each zipimporter then re-parses
its whole archive: about a dozen importers over ``pyspark.zip`` plus
py4j and the shipped package zip, 80-100 ms of CPU per task. That cost
cannot be shipped away, because Spark puts ``pyspark.zip`` on every
worker's path, so the fix lives here: unpickling any package UDF imports
the package, and from then on a worker re-reads an archive only when its
stat changed.
"""

from crawlers_spark import _zipcache

_zipcache.install()

__version__ = "0.1.0"
