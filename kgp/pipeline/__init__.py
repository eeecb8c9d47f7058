"""The five Spark stages of the KG-construction pipeline (SURVEY.md §7.0).

S1 order        stable per-conversation turn ordering + dedup
S2 extract      vectorized mention detection + raw triple extraction
S3 link         blocked candidate generation + fuzzy verification
S4 canonicalize large-star/small-star connected components
S5 materialize  canonical triples + partitioned nodes/edges tables
"""

from .order import order_turns
from .extract import extract
from .link import link_candidate_edges, entity_map_from_edges, link_entities
from .cc import connected_components
from .materialize import materialize
from .run import run_pipeline

__all__ = [
    "order_turns", "extract", "link_candidate_edges", "entity_map_from_edges",
    "link_entities", "connected_components", "materialize", "run_pipeline",
]
