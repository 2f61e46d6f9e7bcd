"""Engine configuration.

Mirrors the reference's hyperparameters (``ApmJavaConfig.txt`` parsed at
SQLFeatureExtraction ch/SchemaParser.java:286-313 and the constants at
enc/APMWindowFragmentIntent.java:503-509) re-expressed for the
transcript domain.  All values are plain data — safe to close over in
pandas UDFs and to broadcast.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Lag / time-range bucket granularities in seconds:
# {1m, 5m, 30m, 1h, 1d, 7d, 30d, 90d, 365d}
# (reference: enc/APMFragmentIntent.java:28, used at :791-802).
DEFAULT_GRANULARITIES: tuple[int, ...] = (
    60,
    300,
    1800,
    3600,
    86400,
    604800,
    2592000,
    7776000,
    31536000,
)


@dataclass(frozen=True)
class FeatureConfig:
    """All knobs of the feature pipeline.

    window_size_s      trailing event-time window width (reference: 5 min,
                       enc/APMWindowFragmentIntent.java:505).  Window bounds
                       are right-closed ``(ts - window_size_s, ts]``
                       (reference membership test at :340-347).
    slide_s            stride of FIXED (tumbling+stride) windows
                       (reference ``fixedSlidingSize`` = 1 min, :509 — the
                       reference has a stride bug, SURVEY §4.4.1; we
                       implement the documented intent).
    slide_mode         "SLIDING" = one window per event (point-in-time);
                       "FIXED"   = strided tumbling windows.
    top_k_entities     top-K entities (tools) per window by summed cost
                       (reference topTabN=1, :369-374).
    top_n_members      top-N member vectors per entity slot
                       (reference topQueryN=2, :376-386).
    session_gap_s      gap threshold for sessionization (new session when
                       ts - prev_ts > gap).
    business_hour_min  FIXED-mode windows starting at hour <=
                       business_hour_min are skipped / not backfilled
                       (reference gate hour<=9 at :226-229; parameterized
                       per SURVEY §4.4.5; None disables).  Applies to the
                       FIXED window/time-spine path only — the SLIDING
                       per-event paths emit every anchor (the reference's
                       per-query path applies the gate when selecting
                       windows to MATERIALIZE, which corresponds to the
                       FIXED spine here).
    binary_bow         True → presence bits for the text bag-of-token
                       segment (reference one-hot); False → counts.
    granularities_s    lag-bucket granularities (seconds).
    train_ratio        per-conversation train split (reference 0.8, :506).
    batch_size         output re-batching size (reference 1000, :500).
    salt_buckets       number of salt buckets used for hot conv_ids in the
                       as-of merge path (skew handling).
    hot_key_threshold  a conv_id is "hot" when its row share exceeds this
                       fraction of the total (triggers salting).
    merge_rows_per_bucket
                       target rows per time-salt bucket in the as-of merge
                       path: a conversation of n rows splits into
                       ceil(n / merge_rows_per_bucket) time-range buckets
                       (one bucket and no replicated rows when n fits).
    """

    window_size_s: int = 300
    slide_s: int = 60
    slide_mode: str = "SLIDING"
    top_k_entities: int = 1
    top_n_members: int = 2
    session_gap_s: int = 1800
    business_hour_min: int | None = None
    binary_bow: bool = True
    granularities_s: tuple[int, ...] = field(default=DEFAULT_GRANULARITIES)
    train_ratio: float = 0.8
    batch_size: int = 1000
    salt_buckets: int = 8
    hot_key_threshold: float = 0.05
    merge_rows_per_bucket: int = 65536
