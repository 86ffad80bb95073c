"""Training-loader sink: DataFrame → iterator of collated dict-of-numpy batches.

Reference parity for ``create_loader`` + ``dict_collation_fn``
(/root/reference/sdata/dataset.py:51-121 and :14-48): the reference batches
``batch_size`` consecutive sample dicts and collates them into a dict of
same-length columns (scalars → np.array, tensors stacked, other → list).

A DataFrame already *is* columnar, so collation is a representation change,
not a compute step. The reference's DataLoader prepares several batches at
once in ``num_workers`` processes; here the sink keeps a window of
single-partition Spark jobs in flight, one per default-parallelism slot, and
hands their rows to the driver in partition order. When the oldest
partition has been taken, the next job is submitted, so driver memory is
O(window × partition), never O(dataset). Each job runs
``PythonRDD.runJob`` on its own ``df._jdf.javaToPython()`` RDD — what
``sc.runJob`` does, minus its extra Python ``mapPartitions`` pass — and its
rows are unpickled exactly as ``toLocalIterator`` unpickles them. Batches
are assembled only on the driver; nothing upstream ever collects.

The jobs run on the loader's own threads. Each thread takes the caller's
thread-local Spark properties (job group, description, scheduler pool, job
tags) and the caller's session tags (``SparkSession.addTag``), plus a tag of
its own; closing the loader early or a failed job cancels the jobs still in
flight through that tag and joins the threads.
"""

from __future__ import annotations

import uuid
from collections import deque
from collections.abc import Iterator
from concurrent.futures import Future, ThreadPoolExecutor, wait
from contextlib import closing

import numpy as np
from pyspark.serializers import BatchedSerializer, CPickleSerializer
from pyspark.sql import DataFrame
from pyspark.util import local_connect_and_auth


def dict_collate(rows: list[dict]) -> dict:
    """Collate row dicts → dict of columns, reference semantics
    (dataset.py:26 keeps only keys present in every row; numeric → np.array,
    arrays → stacked np.array when shapes agree, else list)."""
    if not rows:
        return {}
    keys = set(rows[0])
    for r in rows[1:]:
        keys &= set(r)
    out: dict = {}
    for k in sorted(keys):
        vals = [r[k] for r in rows]
        first = vals[0]
        if isinstance(first, (int, float, bool, np.number)):
            out[k] = np.asarray(vals)
        elif isinstance(first, (list, np.ndarray)):
            arrs = [np.asarray(v) for v in vals]
            if len({a.shape for a in arrs}) == 1:
                out[k] = np.stack(arrs)
            else:
                out[k] = vals
        else:
            out[k] = vals
    return out


def create_loader(
    df: DataFrame,
    batch_size: int = 256,
    partial: bool = True,
    collation_fn=dict_collate,
) -> Iterator[dict]:
    """Yield collated batches of ``batch_size`` rows (B1/B2/B3 parity).

    Rows arrive in the DataFrame's partition order, and a batch may span
    partitions. ``partial=False`` drops the trailing short batch, matching
    the reference's ``.batched(partial=...)`` flag (dataset.py:91-93).
    ``collation_fn`` receives a list of row dicts. Up to
    ``min(defaultParallelism, numPartitions)`` partitions are computed at
    once, so driver memory is O(window × partition): size partitions so that
    that many fit. ``batch_size < 1`` raises ``ValueError`` at the call,
    before any job runs.
    """
    if batch_size < 1:
        raise ValueError(f"create_loader: batch_size must be >= 1, got {batch_size}")
    return _batches(df, batch_size, partial, collation_fn)


def _batches(df: DataFrame, batch_size: int, partial: bool, collation_fn) -> Iterator[dict]:
    buf: list[dict] = []
    with closing(_partitions_in_order(df)) as partitions:
        for rows in partitions:
            for row in rows:
                buf.append(row)
                if len(buf) == batch_size:
                    yield collation_fn(buf)
                    buf = []
    if buf and partial:
        yield collation_fn(buf)


def _partitions_in_order(df: DataFrame) -> Iterator[list[dict]]:
    """Each partition's rows as dicts, in partition order, computed by a
    window of ``min(defaultParallelism, numPartitions)`` single-partition
    jobs on the loader's threads."""
    spark = df.sparkSession
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    loader_tag = f"create_loader-{uuid.uuid4().hex}"
    # Job tags the caller's thread would give an SQL execution: the session's
    # own tag and the JVM names of the tags added with ``spark.addTag``.
    jsession = spark._jsparkSession
    managed = jsession.managedJobTags().get()
    tags = [loader_tag, jsession.sessionJobTag(), *(managed.apply(t) for t in spark.getTags())]
    props = jsc.getLocalProperties().clone()
    serializer = BatchedSerializer(CPickleSerializer())

    def inherit() -> None:
        jsc.setLocalProperties(props.clone())
        for tag in tags:
            sc.addJobTag(tag)

    def partition(i: int) -> list[dict]:
        # Each job gets its own RDD over the DataFrame's one executed plan:
        # Spark aborts every active job whose lineage holds a failed stage's
        # RDD, so on a shared RDD a failure in partition k would also fail
        # the jobs still computing partitions before k.
        sock_info = sc._jvm.PythonRDD.runJob(jsc, df._jdf.javaToPython(), [i])
        sockfile, sock = local_connect_and_auth(sock_info[0], sock_info[1])
        with sock, sockfile:
            sock.settimeout(None)  # as PySpark's own reader: no timeout after the handshake
            return [row.asDict(recursive=True) for row in serializer.load_stream(sockfile)]

    window = sc.defaultParallelism
    pool = ThreadPoolExecutor(window, "create_loader", initializer=inherit)
    # Planning may run upstream shuffle stages, so it runs tagged too. A
    # future leaves ``in_flight`` only after its result is read, so an
    # interrupted wait still cancels its job.
    in_flight: deque[Future] = deque(
        [pool.submit(lambda: df._jdf.javaToPython().partitions().size())]
    )
    try:
        n = in_flight[0].result()
        in_flight.popleft()
        submitted = min(window, n)
        in_flight.extend(pool.submit(partition, i) for i in range(submitted))
        while in_flight:
            rows = in_flight[0].result()
            in_flight.popleft()
            if submitted < n:
                in_flight.append(pool.submit(partition, submitted))
                submitted += 1
            yield rows
    finally:
        # a job submitted just after a cancel escapes it, so cancel until
        # every job still in flight has returned
        pending = {f for f in in_flight if not f.done()}
        while pending:
            sc.cancelJobsWithTag(loader_tag)
            pending = wait(pending, timeout=0.1).not_done
        pool.shutdown(wait=True)
