from linkgraph.plans.shards import ShardedGraph  # noqa: F401
