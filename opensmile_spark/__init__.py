"""opensmile_spark — a PySpark-native feature-engineering engine.

A brand-new engine with the query/data-processing capabilities of
audeering/opensmile (reference at /root/reference), re-imagined Spark-first:
the frame -> LLD -> functionals pipeline becomes a point-in-time, as-of-joined,
windowed feature-engineering engine over tables of multi-turn conversation
transcripts (conv_id, turn_idx, role, text, tool, ts).

Architecture (see SURVEY.md):
  - a dataMemory "level" (reference src/include/core/dataMemory.hpp:30-35)
    maps to a DataFrame keyed (conv_id, turn_idx) with event time ts;
  - cVectorProcessor per-frame maps (vectorProcessor.hpp:25) map to
    select/withColumn built-in expressions (JVM-side, codegen'd);
  - cWindowProcessor sliding filters (windowProcessor.hpp:25) map to
    Window.rowsBetween / lag / lead;
  - cWinToVecProcessor framing + the cFunctionals bank (functionals.cpp)
    map to groupBy().agg() SQL fast paths plus a vectorized numpy kernel
    run by one mapInArrow pass over blocks of whole groups;
  - the causal ring-buffer read protocol (dataMemoryLevel.hpp:296-311) maps
    to as-of merges with a hard ts <= anchor_ts leakage guard.

Nothing in here is a port: no reference code is reused; the C++ formulas are
re-derived and cited file:line so the parity suite can check semantics.
"""

__version__ = "0.1.0"

from opensmile_spark.session import get_spark  # noqa: F401
