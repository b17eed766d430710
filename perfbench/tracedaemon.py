"""Spark Python daemon for the traced run (``spark.python.daemon.module``).

Wraps the layer modules once in the daemon, so every forked worker
inherits the wrappers, and writes a worker's span counters at the end of
each task it runs. Otherwise it is ``pyspark.daemon`` unchanged.
"""

import os

import pyspark.worker

from perfbench import trace

trace.install()

_task_main = pyspark.worker.main
_trace_dir = os.environ["PERFBENCH_TRACE_DIR"]


def _traced_task(infile, outfile):
    trace.TRACER.begin_task()
    try:
        _task_main(infile, outfile)
    finally:
        trace.TRACER.flush(_trace_dir)


# pyspark.daemon binds pyspark.worker.main when it is imported
pyspark.worker.main = _traced_task

if __name__ == "__main__":
    import pyspark.daemon

    pyspark.daemon.manager()
