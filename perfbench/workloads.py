"""The benchmark's workloads: fixed op lists over registered queries.

Each op is a name from ``__spark_entry__.queries()``. One pass runs the
list once, in order, one op at a time (a closed loop with one client).
Why each workload was chosen is stated in ``BENCHMARK.json``.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    "dp_etl": [
        "flagship_demand_rollup",
        "a1_pivot_sum",
        "j2_enrichment",
        "sql_q3_shipping_priority",
        "s22_dynamic_partition_overwrite",
    ],
    "stream_replay": [
        "s11_tumbling_window_stream",
        "s11_pack_stream",
    ],
}

# Timed passes per run. Set-up has already run every op once; the JIT is
# still compiling for several passes after that, so a fixed count (rather
# than as many passes as fit in --seconds) keeps every run at the same
# point of the warm-up curve. dp_etl's ops are short: the median of its
# four passes is not moved by the first, dearest one, and they measure
# about as much work as one stream_replay pass.
PASSES: dict[str, int] = {
    "dp_etl": 4,
    "stream_replay": 1,
}
