"""Operators that need imperative/per-partition execution.

``mapreduce`` — the MapReduce-compat job API (arbitrary executables as
map/reduce operators via the JVM ``RDD.pipe``); everything else in the engine
is DataFrame-first and lives in ``plans/`` / ``functions/``.
"""

from .mapreduce import JobSpec, round_robin_partition, run_job, submit

__all__ = ["JobSpec", "round_robin_partition", "run_job", "submit"]
