"""prclz_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing capabilities of the reference
(satejsoman/prclz, a single-node pandas/R/SLURM pipeline) as distributed
DataFrame operators:

- H3/S2-style integer cell indexing (``functions.cells``) for partition
  pruning, spatial equi-joins and kNN (SQL-reproducible floor arithmetic).
- Point-in-polygon assignment of geo-tagged image records to street blocks
  (``operators.assign``) — two-stage: cell equi-join prefilter + exact
  ray-cast refinement as JVM Column arithmetic (``geomcols.ring_contains``).
- Street-block extraction by road-arrangement polygonization
  (``operators.blocks``).
- Voronoi parcel decomposition + weak-dual k-complexity
  (``operators.complexity``).
- Raster↔vector tiling of decoded image tiles onto parcels
  (``operators.tiles``).
- Steiner-tree reblocking (``operators.reblock``).
- Training-data-pipeline ops: dedup (exact/MinHash-LSH/SimHash/Jaccard),
  ANN similarity search, text quality/lang-id (``operators.dedup`` etc.).
- Checkpoint/lineage table layer with mid-pipeline resume
  (``sources.tablestore``).

All geometry is pure-numpy inside Arrow pandas UDFs (no shapely/geopandas
in this environment); everything relational is plain pyspark.sql so
Catalyst/AQE optimize it.
"""

__version__ = "0.1.0"
