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
  robots + per-host politeness schedule in one bucket-local cogroup),
  per-bucket Bloom blobs that pre-filter its seen probe, dedup family
  (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
  similarity search, near-dup cluster closure (connected components),
  deterministic mixture sampling + benchmark decontamination.
* ``plans``      — the generation crawl loop with checkpoint/resume,
  per-partition lineage and metrics.
* ``streaming``  — Structured-Streaming generation driver.
* ``queries``    — the driver-contract registry: 272 Spark queries, 255
  of them with a DuckDB oracle.

Everything data-parallel is DataFrame-first; Python appears only inside
Arrow-batched pandas UDFs (no per-row Python in any hot path).
"""

__version__ = "0.1.0"
