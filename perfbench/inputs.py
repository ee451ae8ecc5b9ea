"""The benchmark's inputs: windows of one pool of generator pages.

``sources.pages.make_record`` builds and decodes every page it generates,
about 0.4 ms of one core a page.  Generating the route input took about
30 s on a 4-core host, five times a warm route pass and more than the run
budget leaves.  So the pages are generated once per checkout, as a
pool of ``pages_df(spark, size, seed=0)`` plus each page's index ``i``,
kept under ``.perfbench/``.  The pool's name carries a digest of the
generator's source (``sources/pages.py`` and the kernel that computes its
``text`` column), so a changed generator gets a pool of its own.

A run's input is the window of ``n`` consecutive pages of the pool that its
seed picks, written to parquet of its own with the file layout
``pages_df(spark, n)`` would have given it.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random

from pyspark.sql import functions as F

from mysql_cdc_rs_spark.sources import pages as generator

POOL_SEED = 0


def generator_digest() -> str:
    package = os.path.dirname(os.path.dirname(os.path.abspath(generator.__file__)))
    kernel = sorted(glob.glob(os.path.join(package, "kernel", "*.py")))
    files = [generator.__file__, *kernel]
    h = hashlib.sha1()
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def pool(spark, size: int, base: str, scratch: str) -> str:
    """Path of the pool of ``size`` pages; generated when it is missing."""
    path = os.path.join(base, f"pool-{size}-{generator_digest()}")
    if not os.path.isdir(path):
        tmp = os.path.join(scratch, "pool")
        generator.pages_df(spark, size, seed=POOL_SEED).withColumn(
            "i", F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
        ).write.parquet(tmp)
        try:
            os.rename(tmp, path)  # whole, or not at all
        except OSError:  # another run has just put it there
            pass
    return path


def window(spark, pool_path: str, size: int, n: int, seed: int, out: str):
    """The ``n`` pool pages from index ``lo`` on, ``lo`` drawn from the
    seed, written to ``out`` and read back.  As ``pages_df`` does, they
    are split into at most 64 files of contiguous ``i``, 2000 pages or more
    a file."""
    lo = random.Random(seed).randrange(size - n + 1)
    files = max(1, min(64, n // 2000))
    (
        spark.read.parquet(pool_path)
        .where(F.col("i").between(lo, lo + n - 1))
        .repartitionByRange(files, "i")
        .sortWithinPartitions("i")
        .drop("i")
        .write.parquet(out)
    )
    return spark.read.parquet(out)
