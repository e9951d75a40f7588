"""itext2kg_spark — a PySpark-native incremental knowledge-graph construction engine.

A from-scratch re-expression of the capabilities of AuvaLab/itext2kg (ATOM +
iText2KG) on the Spark DataFrame API:

    pages (url, warc_ts, html, text, lang)
      --distill (pure Catalyst, byte-identical text per url)-->
    facts (url, obs_ts, fact_idx, fact)
      --extract (grammar: mapInPandas batch regex | token: pure Catalyst)-->
    quintuples (subj, pred, obj, t_start, t_end) with lineage
      --timestamp parse (Catalyst; dateutil pandas UDF only on rows it misses)-->
      --embed (hash/pluggable pandas UDF over distinct strings)-->
      --similarity join + connected components canonicalization-->
    entities / edges canonical tables (incremental MERGE semantics)

On the KG path Python runs in these stages only: grammar extraction (or a
custom extractor's pandas UDF), embedding, candidate cosine scoring on the
distributed resolve path (BLAS per Arrow batch), and the dateutil timestamp
fallback, which is planned only when the batch holds a date the Catalyst
fast parse misses — mirroring the reference's own non-relational surface
(LLM extraction + embedding calls). Distill, sentence split, token
extraction, remap and aggregation are Catalyst expressions, joins and
aggregates.

Reference semantics are documented per-module with file:line citations into
/root/reference (read-only); no reference code is copied.
"""

from itext2kg_spark.config import MatchConfig, EmbedConfig, PipelineConfig

__version__ = "0.1.0"

__all__ = ["MatchConfig", "EmbedConfig", "PipelineConfig", "__version__"]
