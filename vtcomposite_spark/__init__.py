"""vtcomposite_spark — a from-scratch PySpark-native spatial-join + tiling
engine with the query surface of mapbox/vtcomposite, re-expressed for
100 TB-scale web-page tables (see SURVEY.md).

Request-compatible surface:   api.composite / api.localize
DataFrame engine surface:     operators.* (composite, localize, cells,
                              joins, dedupe, similarity, web, raster,
                              multimodal images, ...)
Kernels (numpy/Arrow):        geometry, polyclip, tilemath
Sources/sinks:                sources.mvt (codec), sources.pages,
                              sources.ingest, sources.tables, sources.warc
Scale plumbing:               plans.skew (salting)
"""

from .api import composite, localize  # noqa: F401
