"""Text-analysis and multimodal operators the driver harness declares,
beyond the paper's full-text index: SimHash and character shingles
(dedup), language ID, quality scores, token counts and fingerprints
(textstats), and the image/media plumbing (multimodal).

Each text operator is a JVM-side expression that a DuckDB query mirrors
bit for bit (the harness's `oracle_sql`); the multimodal decoders run
through Arrow-batched mapInPandas.
"""
