from duplicatesuricate_spark.operators.lsh import band_explode, candidate_pairs
from duplicatesuricate_spark.operators.score import score_and_verify
from duplicatesuricate_spark.operators.components import connected_components
from duplicatesuricate_spark.operators.dedup import dedup_pipeline, DedupResult

__all__ = [
    "band_explode",
    "candidate_pairs",
    "score_and_verify",
    "connected_components",
    "dedup_pipeline",
    "DedupResult",
]
