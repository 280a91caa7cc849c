"""Large-scale training-data pipeline operators (BASELINE.json north
star; beyond the reference's surface).

- ``dedup``      — exact, MinHash+LSH, SimHash, n-gram Jaccard.
- ``similarity`` — embedding cosine top-k (exact + fast paths).
- ``textstats``  — token counts, quality scores, language ID,
  document fingerprints.
- ``components`` — connected components over near-dup pair graphs
  (pairs → duplicate clusters with a representative).
- ``sampling``   — deterministic hash-keyed sampling / train-test
  splits / stratified downsampling / dataset mixing.
- ``curation``   — contamination screens, boilerplate removal,
  paragraph dedup, normalization, chunking, sequence packing.
- ``sketches``   — deterministic HyperLogLog, Count-Min, KMV set
  algebra.
- ``bpe``        — bounded-deterministic BPE train + Arrow apply.

Media decode (image/audio/video) is out of scope: binary columns get
a JVM-side metadata pass only (length + content hash, the
``multimodal_meta`` query); decoding belongs in a codec library.

Determinism doctrine: every hash used for bucketing/signatures is
md5-based (cross-engine reproducible), never engine-internal hash().
All Python-side work is Arrow-batched (mapInPandas/pandas_udf) — no
row-at-a-time UDFs.
"""

from cubert_spark.datapipe import (  # noqa: F401
    bpe,
    components,
    curation,
    dedup,
    sampling,
    similarity,
    sketches,
    textstats,
)
