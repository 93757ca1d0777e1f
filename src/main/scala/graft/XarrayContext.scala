package graft

import graft.grid.{ChunkGrid, GridStore, VarDef, ZarrGridStore, ZarrV3}
import graft.sources.GridSource
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

/** SQL-context façade over grid datasets — the Spark analogue of the
  * reference's `XarrayContext` (xarray_sql/sql.py:12-178).
  *
  * Registration groups data variables by their dims tuple
  * (sql.py:181-191): one group registers a single table under `name`;
  * several groups register one table per group named
  * `<name>_<dims joined by _>` (Spark temp views are single-level, so the
  * reference's `era5.time_lat_lon` schema namespace becomes
  * `era5_time_lat_lon`), overridable via `tableNames`. Scalar (0-dim)
  * variables form a one-row table defaulting to `<name>_scalar`.
  * Registration is O(metadata): no variable data is read until a query
  * executes (the reference's laziness invariant).
  */
class XarrayContext(val spark: SparkSession) {

  /** Register `store` (chunked by `chunks`) and return the view names. */
  def fromDataset(
      name: String,
      store: GridStore,
      chunks: Map[String, Int],
      tableNames: Map[Seq[String], String] = Map.empty): Seq[String] = {
    val groups: Seq[(Seq[String], Seq[VarDef])] = store.schema.varGroups
    require(groups.nonEmpty, s"dataset $name has no data variables")
    // auto-register the cftime literal converter when a non-Gregorian
    // calendar coordinate is present (reference sql.py:150-157)
    store.schema.dims.find(d => d.calendar.exists(c =>
      graft.time.CfCalendar.classify(c) == graft.time.CfCalendar.NonGregorian))
      .foreach(d => graft.functions.GraftFunctions.registerCfTime(
        spark, d.units.getOrElse("days since 2000-01-01"), d.calendar.get))
    groups.map { case (dims, _) =>
      val view = tableNames.getOrElse(dims,
        if (groups.size == 1) name
        else if (dims.isEmpty) s"${name}_scalar"
        else s"${name}_${dims.mkString("_")}")
      dataFrame(s"$name/${dims.mkString(",")}", store, chunks, dims)
        .createOrReplaceTempView(view)
      view
    }
  }

  /** Register every dataset of a HIERARCHICAL zarr tree: the
    * root-level dataset (when the root holds arrays) under `name`, and
    * each subgroup's dataset under `<name>_<group path joined by _>`,
    * recursively — ONE registration call puts a whole grouped archive
    * on the SQL surface (the reference registers datasets one by one,
    * sql.py:105-125; real archives arrive as hierarchies). The
    * laziness invariant is unchanged: registration reads metadata
    * only, one round per group. Returns every view name created.
    */
  def fromZarrTree(name: String, root: String): Seq[String] = {
    def walk(nm: String, r: String): Seq[String] = {
      val rootViews = graft.grid.ZarrGridStore.openDataset(r)
        .map(st => fromDataset(nm, st, st.chunkMap))
        .getOrElse(Seq.empty)
      rootViews ++ graft.grid.ZarrGridStore.subgroups(r).flatMap { g =>
        // group names become view-name segments: identifier-safe
        walk(s"${nm}_${g.replaceAll("[^A-Za-z0-9_]", "_")}", s"$r/$g")
      }
    }
    val views = walk(name, root.stripSuffix("/"))
    require(views.nonEmpty, s"no datasets anywhere under $root")
    views
  }

  /** Register `store` under a 2-level SQL namespace — the reference's
    * `era5.time_lat_lon` schema scoping (sql.py:105-125) — by activating
    * a per-dataset DSv2 catalog: `SELECT ... FROM <name>.<dim_group>`
    * and `SHOW TABLES IN <name>` resolve through Spark's catalog
    * machinery. Returns the qualified table names.
    */
  def fromDatasetCatalog(name: String, store: GridStore,
      chunks: Map[String, Int]): Seq[String] = {
    require(store.schema.varGroups.nonEmpty,
      s"dataset $name has no data variables")
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GridCatalog].getName)
    store.schema.varGroups.map { case (dims, _) =>
      val tbl = if (dims.isEmpty) "scalar" else dims.mkString("_")
      graft.sources.GridCatalog.register(name, tbl, store, chunks, dims)
      s"$name.$tbl"
    }
  }

  /** Register with `chunks = "auto"`: the spec is derived from a byte
    * budget (reference ds.py:566-625 — 128 MiB default), splitting
    * outer dims first and snapping to the store's own on-disk chunks
    * when it has them, so callers stop hand-picking chunk sizes.
    */
  def fromDatasetAuto(name: String, store: GridStore,
      budgetBytes: Long = ChunkGrid.AutoBudgetBytes,
      tableNames: Map[Seq[String], String] = Map.empty): Seq[String] = {
    val existing = store match {
      case z: ZarrGridStore => z.chunkMap
      case _ => Map.empty[String, Int]
    }
    fromDataset(name, store,
      ChunkGrid.autoChunks(store.schema, budgetBytes, existing), tableNames)
  }

  /** A DataFrame over one dim-group of the dataset, without registration. */
  def dataFrame(key: String, store: GridStore, chunks: Map[String, Int],
      groupDims: Seq[String]): DataFrame = {
    GridSource.register(key, store, chunks, groupDims)
    spark.read.format(GridSource.FORMAT).option("dataset", key).load()
  }

  /** [[dataFrame]] for throwaway per-invocation stores: the registry
    * entry is dropped as soon as `load()` has captured the table, so
    * unique scratch keys do not grow the registry for the life of the
    * driver (partitions serialize the store itself; nothing consults
    * the registry after load). The caller's key gets a per-invocation
    * nonce: callers over STAGED (build-once) fixtures share the same
    * human key, and without the nonce one invocation's unregister
    * could land between a concurrent invocation's register and load.
    */
  def scratchDataFrame(key: String, store: GridStore,
      chunks: Map[String, Int], groupDims: Seq[String]): DataFrame = {
    val k = key + "#" + java.util.UUID.randomUUID().toString.take(8)
    try dataFrame(k, store, chunks, groupDims)
    finally GridSource.unregister(k)
  }

  def sql(query: String): DataFrame = spark.sql(query)

  /** Query-time concatenation of multiple stores with the same schema
    * shape — the `xr.open_mfdataset` / `xr.concat` analog (a dataset at
    * 100 TB is a FLEET of stores: one per day/model-run/shard). No data
    * moves and nothing re-registers centrally: the view is a DataFrame
    * union whose member scans keep their own chunk grids and zone maps,
    * so a filter prunes every member independently (a time predicate
    * opens zero partitions of the stores it misses — pinned in
    * GridSourceSpec). Members may differ in chunking and codec.
    */
  def concatDataFrame(keyPrefix: String,
      parts: Seq[(GridStore, Map[String, Int])],
      groupDims: Seq[String]): DataFrame = {
    require(parts.nonEmpty, "concat of zero stores")
    parts.zipWithIndex.map { case ((st, ch), i) =>
      scratchDataFrame(s"$keyPrefix#$i", st, ch, groupDims)
    }.reduce(_ unionByName _)
  }

  /** [[concatDataFrame]] as a pure-SQL surface: register the multi-store
    * concatenation as ONE table in a 2-level catalog namespace, so
    * `SELECT ... FROM <catalog>.<table>` unions the member stores with
    * per-member pruning intact (each member's scan plans against its
    * own chunk grid and zone maps; see [[graft.sources.ConcatGridTable]]).
    * Returns the qualified name. Reference analog: multi-dataset
    * registration into one SQL context (xarray_sql/sql.py:105-125).
    */
  def concatCatalogTable(catalog: String, table: String,
      parts: Seq[(GridStore, Map[String, Int])],
      groupDims: Seq[String]): String = {
    require(parts.nonEmpty, "concat of zero stores")
    spark.conf.set(s"spark.sql.catalog.$catalog",
      classOf[graft.sources.GridCatalog].getName)
    graft.sources.GridCatalog.registerConcat(catalog, table, parts, groupDims)
    s"$catalog.$table"
  }

  /** Distributed re-chunk ("compaction"): rewrite `store` under
    * `newChunks` as a Zarr v3 tree at `dest`. The 100 TB operational fix
    * for chunk-size drift — appends and fine-grained writers accumulate
    * small chunk files whose per-file open cost and per-chunk planning
    * rows eventually dominate (the object-store small-files problem);
    * compaction restores the 64–256 MB target. Everything stays
    * distributed: executors read each output block from the shipped
    * source store (assembling it from the source chunks it overlaps),
    * encode it and recompute its value stats + sums, so zone-map
    * pruning and metadata-answered aggregates survive the rewrite
    * unchanged. The source's compressor is inherited — compaction must
    * not silently re-encode (v2 `zlib` becomes v3 `gzip`, the same
    * DEFLATE stream under v3's codec name); output chunks are unsharded.
    */
  def rechunk(store: ZarrGridStore, newChunks: Map[String, Int],
      dest: String): ZarrGridStore = {
    val comps = store.schema.vars.map { v =>
      val a = store.arrays(v.name)
      a.sharding.map(_.innerCompressor).getOrElse(a.compressor)
    }.distinct
    require(comps.size == 1,
      s"rechunk needs one compressor across variables, found $comps")
    ZarrV3.writeDistributed(store, dest, newChunks,
      ZarrGridStore.compressorSpec(comps.head))
  }

  /** API parity with the reference's legacy `from_map` (SURVEY §2A A17,
    * df.py:120-207): map a row-generating function over items, one task
    * per group of items, and get a queryable Dataset — e.g. chunk keys
    * in, pivoted rows out. Distributed and lazy: `f` runs on executors
    * at action time, never on the driver.
    */
  def fromMap[A, B: Encoder](items: Seq[A], f: A => IterableOnce[B],
      numPartitions: Int = 0)(implicit cta: scala.reflect.ClassTag[A],
      ctb: scala.reflect.ClassTag[B]): Dataset[B] = {
    val parts =
      if (numPartitions > 0) numPartitions
      else math.max(1, math.min(items.size,
        spark.sparkContext.defaultParallelism))
    spark.createDataset(
      spark.sparkContext.parallelize(items, parts).flatMap(a => f(a)))
  }
}
