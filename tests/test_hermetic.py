"""Tier-1 is hermetic: a Python worker the suite spawns imports only from the
repo, its own interpreter, the Spark install and the app's SparkFiles."""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _under(path: str, root: str) -> bool:
    path, root = os.path.realpath(path), os.path.realpath(root)
    return os.path.commonpath([path, root]) == root


def test_python_worker_sys_path_stays_inside_known_roots(spark):
    def worker_paths(_):
        import sys

        import pyspark
        from pyspark import SparkFiles

        spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
        roots = [sys.prefix, sys.base_prefix, spark_home, SparkFiles.getRootDirectory()]
        yield list(sys.path), roots

    paths, roots = spark.sparkContext.parallelize([0], 1).mapPartitions(worker_paths).first()
    roots.append(REPO)
    outside = [p for p in paths if p and not any(_under(p, r) for r in roots)]
    assert not outside, f"worker sys.path reaches outside {roots}: {outside}"
