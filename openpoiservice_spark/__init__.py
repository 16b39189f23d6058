"""openpoiservice_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of GIScience/openpoiservice (reference:
/root/reference, a Flask + PostGIS service) as batch DataFrame plans over a
single wide table of geotagged image+caption rows:

    image_id: string, bytes: binary, w: int, h: int, fmt: string,
    caption: string, phash: long

Architecture (see SURVEY.md for the full blueprint):
  * prefilter/refine spatial joins: quadtree cell-cover equi-prefilter
    (partition + row-group pruning) followed by exact point-in-geometry
    refinement in native Spark SQL expressions — the Spark-native analogue
    of the reference's GiST index scan + `_st_dwithin` recheck
    (reference misc.sql:50-52).
  * the import path and the request path are native Spark expressions
    (zero Python in the ingest loop and in the refine/distance); the
    remaining per-row Python (image decode, batch-join refine, operators)
    is Arrow-vectorized pandas code, never row-at-a-time Python.
  * driver-side query compilation mirroring the reference's request
    lifecycle (validation, category-group expansion, geometry admission).
"""

__version__ = "0.1.0"
