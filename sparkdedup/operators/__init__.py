from sparkdedup.operators.bands import explode_bands
from sparkdedup.operators.pairs import candidate_pairs
from sparkdedup.operators.verify import verify_pairs, jaccard_expr
from sparkdedup.operators.connected_components import connected_components
from sparkdedup.operators.certainty import with_certainty

__all__ = [
    "explode_bands",
    "candidate_pairs",
    "verify_pairs",
    "jaccard_expr",
    "connected_components",
    "with_certainty",
]
