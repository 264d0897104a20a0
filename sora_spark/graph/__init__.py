"""Graph layer — the SORA identity (SURVEY §2.10, §3.4).

Property graphs are two DataFrames (vertices, edges); every algorithm
is expressed as DataFrame joins/aggregations, with driver-side
iteration + localCheckpoint for fixpoints (the GraphFrames pattern —
no GraphX/RDD dependency).
"""

from sora_spark.graph.derive import e_co, e_seq
from sora_spark.graph.graph import FixpointError, Graph

__all__ = ["e_co", "e_seq", "FixpointError", "Graph"]
