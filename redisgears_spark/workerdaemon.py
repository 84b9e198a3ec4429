"""The Python daemon that `session.get_spark` names in
`spark.python.daemon.module`: stock `pyspark.daemon`, started after
`workerpatch` is installed, so every worker it forks starts patched."""

import redisgears_spark.workerpatch  # noqa: F401

if __name__ == "__main__":
    from pyspark import daemon

    daemon.manager()
