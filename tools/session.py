"""The one local Spark session builder for bench.py, the tests and tools/.

Every session is ``local[cpus]`` with ``cpus`` shuffle partitions, AQE on
and the UI off; callers pass only what they really differ on (cores,
driver memory, extra confs).  ``conf`` is applied last, so an extra conf
overrides any default, ``spark.master`` included.

This module imports only pyspark, never ``kafka_error_handling_spark``:
``calib_basket.py`` and ``profile_query.py --root`` build their session
here and then time ANOTHER tree's package, which must not already sit in
``sys.modules``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def check_conf() -> dict[str, str]:
    """Parse the ``KEH_CHECK_CONF`` overlay (``k=v;k=v``) of the
    correctness and lint tools.  An entry without ``=`` or with an empty
    key is an error (``SystemExit``), never a silent ``k=""``."""
    out: dict[str, str] = {}
    for kv in os.environ.get("KEH_CHECK_CONF", "").split(";"):
        if not kv.strip():
            continue
        k, sep, v = kv.partition("=")
        if not sep or not k.strip():
            raise SystemExit(f"KEH_CHECK_CONF entry is not key=value: {kv!r}")
        out[k.strip()] = v.strip()
    return out


def build_session(
    app: str, cpus: int | str, driver_memory: str = "16g", conf: dict | None = None
) -> SparkSession:
    cpus = str(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
