"""Plan shaping: the adaptive-parallelism policy (``parallelism``) that
decides when a stage gets a round-robin exchange. The plan locks that
assert the shipped plans (pushdown, pruning, broadcast) live with the
tests — see PLANS.md."""
