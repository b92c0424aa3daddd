"""gelly_partitioning_spark — a PySpark-native skew-aware link-graph
analytics engine, rebuilt from scratch with the query semantics of
andralungu/gelly-partitioning (Flink Gelly node-splitting) on the Spark
DataFrame/Catalyst stack. See SURVEY.md for the full blueprint.
"""

from .algorithms import (
    connected_components,
    degree_count,
    jaccard,
    jaccard_counts,
    jaccard_vertex,
    label_propagation,
    pagerank,
    skew_census,
    triangle_count,
    triangle_count_long_pairs,
)
from .graph import (
    canonical_edges,
    degrees,
    from_pairs,
    normalize_edges,
    triplets,
    undirected,
    vertices,
)
from .session import get_spark
from .splitting import SplitGraph, split_graph
from .superstep import SuperstepRunner

__version__ = "0.1.0"
