"""Runtime settings every run pins, and the engine bounds the workloads sit
on either side of.

Settings (set in the environment before the JVM starts):

* master ``local[<cores>]`` — every core this process may run on;
* ``PARQUERY_SPARK_MEMORY=2g`` — well below host RAM (the engine's
  local-mode default is 16g);
* the Spark UI off and the console progress bar off;
* ``TMPDIR``, ``SPARK_LOCAL_DIRS``, ``java.io.tmpdir`` and the working
  directory fresh per run, so registry artifacts keyed under the temp
  directory are built by every run instead of reused from an earlier one.

Fixture sizes against the engine's cache bounds
(``relations.MAX_CACHED_INPUT_BYTES`` = 256 MiB,
``relations.MAX_CACHED_RELATIONS`` = 16, ``relations.MAX_CACHED_PLANS`` =
128):

* ``agg_churn``: 48 files of 25 k rows (about 0.6 MB each) — three times
  the relation LRU, each file far under the size gate.
* ``registry``: the ten tables at scale 0.001 (6 k lineitem rows), far
  under the size gate.
"""

from __future__ import annotations

import os

SPARK_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_env(tmp: str, local_dirs: str) -> dict[str, str]:
    """Environment for the engine's session and its JVM."""
    # the heap is reserved at its full size from the start, so G1 does not
    # resize it mid-run; only the heap pages the run touches count in RSS
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{SPARK_MEMORY}"
    return {
        "PARQUERY_SPARK_MASTER": f"local[{cores()}]",
        "PARQUERY_SPARK_MEMORY": SPARK_MEMORY,
        "PARQUERY_SPARK_CONF_spark__ui__enabled": "false",
        "PARQUERY_SPARK_CONF_spark__ui__showConsoleProgress": "false",
        "PARQUERY_SPARK_CONF_spark__driver__extraJavaOptions": java_opts,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local_dirs,
    }
