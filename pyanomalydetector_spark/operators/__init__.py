from pyanomalydetector_spark.operators.detect import (
    DetectorConfig, detect1, detect2, detect3,
    adjacent_diff_stats, local_peaks,
)
from pyanomalydetector_spark.operators.cascade_fused import detect_cascade
from pyanomalydetector_spark.operators.rollup import tumbling_rollup
from pyanomalydetector_spark.operators.normalize import (
    base_clock_grid, resample_to_grid, minmax_normalize,
)
from pyanomalydetector_spark.operators.topn import top_n_per_group

__all__ = [
    "DetectorConfig", "detect1", "detect2", "detect3", "detect_cascade",
    "adjacent_diff_stats", "local_peaks",
    "tumbling_rollup", "base_clock_grid", "resample_to_grid",
    "minmax_normalize", "top_n_per_group",
]
