"""vyperdatum_spark — a from-scratch PySpark-native vertical-datum
transformation + spatial-join engine.

Re-expresses the capabilities of noaa-ocs-hydrography/vyperdatum
(reference at /root/reference, studied for WHAT it computes, not HOW)
as an idiomatic Spark DataFrame pipeline:

- points geoparsed from a Common-Crawl-shaped ``pages`` table
  (url, warc_ts, html, text, lang),
- hierarchical cell-encoded (H3-analog, pure column math),
- point-in-polygon matched per fine cell against broadcast region
  polygons (a constant, or the few edges left in a boundary cell),
- transformed via bilinear interpolation over the separation grids
  (broadcast corner joins + column math, no Python worker),
- with last-write-wins / count-ranked region precedence, uncertainty
  joins, per-partition lineage + metrics, and bucket-level
  checkpoint/resume.

No GDAL/PROJ/pyproj at executors: the numeric core is Catalyst column
math, with numpy inside Arrow-batched kernels only for embedding
scoring; everything relational is Catalyst-planned DataFrame ops.
"""

__version__ = "0.1.0"
