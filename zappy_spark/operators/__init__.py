"""Reusable pipeline operators (beyond-reference, BASELINE.json north star).

Generic DataFrame-in/DataFrame-out operators; the declared-corpus
wrappers over the testdata tables live in
``zappy_spark.queries.pipeline_ops``.

Materialization policy — ``DataFrame.localCheckpoint`` is the one
primitive for sharing an intermediate; no operator calls ``cache``
or ``persist``:

- A frame read by two or more consumers inside one plan is
  checkpointed lazily, ``localCheckpoint(eager=False)``. The
  checkpointed ``LogicalRDD`` stays in the plan of every frame
  derived from it, so wrappers that post-process an operator's
  output keep the intermediate alive without doing anything.
- Driver-side iterative loops (``graph.py``) checkpoint eagerly,
  ``localCheckpoint()``, once per round, so each round's plan starts
  from materialized rows instead of the whole unrolled lineage.
- Blocks are stored MEMORY_AND_DISK (the ``localCheckpoint``
  default), so a large intermediate spills instead of failing.
- Release comes through Spark's ContextCleaner once the last frame
  referencing the checkpoint is garbage-collected on both the Python
  and the JVM side. It is not prompt: blocks linger until a JVM GC.
- Under adaptive execution a lazy checkpoint over an Exchange runs
  the upstream shuffle stages when the checkpoint is built, inside
  the operator call; only the checkpoint's own rows wait for the
  first action.
- Fault-tolerance trade: lineage is truncated at the checkpoint, so
  losing an executor that holds checkpoint blocks fails the query
  instead of recomputing the lost partitions.
"""
