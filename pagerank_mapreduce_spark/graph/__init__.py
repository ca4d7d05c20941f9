from pagerank_mapreduce_spark.graph.pagerank import (
    SparseIdsError,
    out_degrees,
    pagerank,
    pagerank_oracle_sql,
    reverse_adjacency,
    websize,
)
from pagerank_mapreduce_spark.graph.hits import hits, hits_oracle_sql
from pagerank_mapreduce_spark.graph.io import format_ranks, ranks_close

__all__ = [
    "pagerank",
    "pagerank_oracle_sql",
    "SparseIdsError",
    "hits",
    "hits_oracle_sql",
    "out_degrees",
    "websize",
    "reverse_adjacency",
    "format_ranks",
    "ranks_close",
]
