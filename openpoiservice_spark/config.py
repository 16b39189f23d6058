"""Engine settings — parity with the reference's ops_settings.yml
(reference openpoiservice/server/ops_settings.yml:3-13) plus Spark-side
tuning knobs."""

from __future__ import annotations

MAXIMUM_CATEGORIES = 5
MAXIMUM_SEARCH_RADIUS = {  # meters, per geometry type
    "point": 2000.0,
    "linestring": 2000.0,
    "polygon": 2000.0,
}
MAXIMUM_AREA_M2 = 50_000_000.0
MAXIMUM_LINESTRING_LENGTH_M = 500_000.0
RESPONSE_LIMIT = 2000  # effective max features = limit - 1 (quirk Q1)

# --- Spark-side knobs -------------------------------------------------------
#: cover sizes up to this use a plain IN-list predicate (literal pushdown,
#: zero extra stages); between this and SHUFFLE_COVER_THRESHOLD use a
#: broadcast-hash join against a cover DataFrame; above it, repartition both
#: sides by cell (the reference's planner faced the same choice and lost 33x
#: when it picked wrong — reference misc.sql:113-143).
ISIN_COVER_THRESHOLD = 1024
SHUFFLE_COVER_THRESHOLD = 200_000

#: per-partition row threshold above which a hot cell gets salted on write.
SALT_THRESHOLD_ROWS = 2_000_000

#: density-driven cover refinement: when the lineage stats estimate MORE
#: rows than this inside a query's cell cover, the planner refines the cover
#: two resolution levels (16x smaller cells) — a tighter cover sends fewer
#: false-positive rows through the exact refine, and the larger cover
#: list flips the join strategy from IN-pushdown to broadcast-hash via the
#: existing size thresholds.
DENSE_REFINE_ROWS = 500_000
