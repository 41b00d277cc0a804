"""osmquadtree_spark — a PySpark-native quadtree spatial-join + tiling engine.

A from-scratch re-imagining of jharris2268/osmquadtree's element-to-quadtree
assignment, tile splitting and tile-sorted grouping as vectorized
Arrow/pandas-UDF stages over DataFrames of georeferenced image+caption rows.

Layout:
  kernels/    pure-numpy bit-exact kernels (quadtree encode, mercator, pnpoly)
  plans/      driver-side planning (QtTree grouping: tree_rollup/find_groups)
  operators/  DataFrame-level operators (calcqts, sortblocks, extract, ...)
  sources/    synthetic image table generator + testdata loaders
  functions/  pandas-UDF wrappers around the kernels
"""

from . import pyworker

pyworker.install()

__version__ = "0.1.0"
