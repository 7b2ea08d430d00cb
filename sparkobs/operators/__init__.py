"""Operator library: plain ``DataFrame -> DataFrame`` functions.

Each module rebuilds one capability area of the reference (SURVEY.md §2):

- :mod:`profile`   — column statistics / table profile (OP-13/22..36)
- :mod:`shape`     — catalog shape metrics, argmax, lookup joins (OP-05/06/15..19/32/34)
- :mod:`metrics`   — long-format metric fan-in (OP-12/14/20/21/37)
- :mod:`state`     — run-over-run snapshots, deltas, schema drift (OP-38..41)
- :mod:`windows`   — time-window aggregation, batch form (OP-54/55)
- :mod:`text`      — text analysis extension (lang-id, quality, tokens, fingerprint)
- :mod:`dedup`     — exact + near-duplicate detection (hash / n-gram Jaccard / MinHash / SimHash)
- :mod:`similarity`— embedding cosine top-k (brute force + LSH-bucketed)
- :mod:`cluster`   — distributed Lloyd k-means (fixed-point, oracle-exact)
- :mod:`graph`     — PageRank link analysis (fixed-point, oracle-exact)
- :mod:`multimodal`— opaque binary columns + Arrow-batched decode plumbing
- :mod:`behavior`  — funnels, cohort retention, time-series resampling
- :mod:`bpe`       — distributed BPE tokenizer training and application
- :mod:`checks`    — declarative data-quality check suites
- :mod:`features`  — group-wise normalization, outlier clipping
- :mod:`joins`     — as-of, positional zip, set-op and salted joins
- :mod:`lm`        — n-gram language-model scoring for corpus filtering
- :mod:`sampling`  — deterministic hash-mod sampling, sampled aggregates with CIs
"""
