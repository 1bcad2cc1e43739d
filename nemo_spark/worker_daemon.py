"""A ``pyspark.daemon`` that imports the Arrow-batched UDFs' libraries once,
before it forks any worker: each worker then shares those pages with the
daemon instead of importing a private copy. ``gc.freeze`` keeps the
collector from touching, and so copying, the shared objects.

Spark starts it as ``python -m nemo_spark.worker_daemon`` when
:func:`nemo_spark.session.get_spark` sets ``spark.python.daemon.module``."""

import gc
import importlib

PRELOAD = ("pyarrow", "pyarrow.compute", "pandas")


def main() -> None:
    for name in PRELOAD:
        try:
            importlib.import_module(name)
        except Exception:  # a worker that needs it fails with its own error
            pass
    from pyspark import daemon

    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
