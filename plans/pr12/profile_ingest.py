"""cProfile of ``SingleStreamIngester.ingest`` on perfbench's ``ingest``
shape: 50,000 samples of 768 B (an int64 and 95 doubles) written in the
default 1,536-sample batches, then EOF'd. Prints the wall time of each
repeat and the top-15 functions by self time of the last one.

    PYTHONPATH=<checkout> python plans/pr12/profile_ingest.py [repeats]
"""

import cProfile
import io
import pstats
import sys
import tempfile
import time

import numpy as np

from river_spark.ingest.ingester import SingleStreamIngester
from river_spark.ingest.settings import IngesterSettings
from river_spark.schema import FieldDefinition, FieldType, StreamSchema
from river_spark.transport.log import StreamLog
from river_spark.transport.writer import StreamWriter

N = 50_000
SCHEMA = StreamSchema(
    [FieldDefinition("seq", FieldType.INT64)]
    + [FieldDefinition(f"x{i:02d}", FieldType.DOUBLE) for i in range(95)]
)


def main(repeats: int) -> None:
    rng = np.random.default_rng(0)
    data = np.zeros(N, dtype=SCHEMA.dtype())
    data["seq"] = rng.integers(0, 1 << 62, N)
    for name in SCHEMA.field_names()[1:]:
        data[name] = rng.standard_normal(N)
    settings = IngesterSettings.catch_all().settings_for("ingest")
    for r in range(repeats):
        with tempfile.TemporaryDirectory() as d:
            log = StreamLog(f"{d}/log")
            writer = StreamWriter(log).initialize("ingest", SCHEMA)
            writer.write(data)
            writer.stop()
            ingester = SingleStreamIngester(log, f"{d}/out", "ingest", settings)
            prof = cProfile.Profile()
            t0 = time.perf_counter()
            prof.enable()
            ingester.ingest()
            prof.disable()
            print(f"repeat {r}: {time.perf_counter() - t0:.3f} s")
    out = io.StringIO()
    pstats.Stats(prof, stream=out).strip_dirs().sort_stats("tottime").print_stats(15)
    print(out.getvalue())


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 3)
