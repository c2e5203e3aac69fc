"""Pure-Python side of graft's benchmark: statistics, trace analysis,
input generators and the independent output references."""
