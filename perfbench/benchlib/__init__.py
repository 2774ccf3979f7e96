"""Pure-Python side of the graft benchmark: input generators, the DuckDB
oracle compare and the metric arithmetic over recorded spans."""
