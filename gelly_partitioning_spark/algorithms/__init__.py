from .connected_components import connected_components
from .degree import degree_count
from .jaccard import jaccard, jaccard_counts, jaccard_vertex
from .label_propagation import label_propagation
from .neighborhoods import aggregate_neighborhoods, neighbor_sets
from .pagerank import pagerank
from .skew_census import skew_census
from .triangle_count import triangle_count, triangle_count_long_pairs

__all__ = [
    "connected_components",
    "degree_count",
    "jaccard",
    "jaccard_counts",
    "jaccard_vertex",
    "label_propagation",
    "aggregate_neighborhoods",
    "neighbor_sets",
    "pagerank",
    "skew_census",
    "triangle_count",
    "triangle_count_long_pairs",
]
