package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ConnectedComponents
import graft.kernel.TileComponents

/** Distributed connected-component labeling over the tiled vegetation
  * mosaic — the two-level CCL standard for grids too large for one
  * machine: label each tile independently
  * ([[graft.kernel.TileComponents]], one decode per tile), then stitch
  * fragments across tile edges with a boundary equi-join feeding
  * [[ConnectedComponents]] over the LABEL graph. Pixels never shuffle:
  * the cross-tile stage carries per-fragment stats plus 4·ts boundary
  * labels per tile — ~10^5× smaller than the pixel data — so the shape
  * holds on a 10^12-tile national mosaic.
  *
  * Id scheme (all arithmetic exact in longs): tile index t = e·2^16 + n
  * (OSGB km-cells: e ≤ 700, n ≤ 1300 — both far under 2^16), fragment
  * node id = t·2^16 + local (local < 2^16: a ts ≤ 256 tile cannot exceed
  * 2^15 4-connected fragments), interface key = (ownerT·2 + orient)·2^16
  * + pos. Owners: a VERTICAL interface is owned by its EAST tile
  * (west tile claims with its right column, owner with its left);
  * a HORIZONTAL interface is owned by its NORTH tile (north tile claims
  * with its bottom pixel row — row ts−1, the south edge of a y-down
  * raster — the south tile with its top row). Border interfaces get one
  * claim and produce no edge.
  */
object MosaicCcl {

  /** Per-fragment nodes (node_id, size) and boundary claims
    * (ifc_key, node_id) for a tile table with input_hint schema. The
    * fragment frame is eagerly checkpointed so the decode runs ONCE for
    * the node projection and all four boundary projections (its size is
    * O(4·ts) ints per tile — the CCL working set, not pixels). */
  def fragments(tiles: DataFrame, kernelName: String): (DataFrame, DataFrame) = {
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    val cell = VegPipeline.keyToCell(None)(col("image_id"))
    val base = tiles
      .withColumn("cell", cell).where(col("cell").isNotNull)
      .withColumn("t",
        shiftright(col("cell"), 31) * 65536L + col("cell").bitwiseAND(lit(0x7fffffffL)))
      .withColumn("c", ec(TileComponents(ee(col("bytes")), kernelName)))
      .select(col("t"), col("c.sizes").as("sizes"), col("c.left").as("lf"),
        col("c.right").as("rt"), col("c.top").as("tp"), col("c.bottom").as("bt"))
      .localCheckpoint(true)
    val nodes = base
      .select(col("t"), posexplode(col("sizes")).as(Seq("local", "size")))
      .select((col("t") * 65536L + col("local")).as("node_id"), col("size"))
    // All four boundary claim streams come out of ONE pass over the
    // fragment frame: each side's (ifc_key, node_id) rows are built
    // in-row by codegen'd array transforms, concatenated, and exploded
    // once — versus the former 4-way unionAll of per-side projections,
    // which scanned the checkpoint four times and quadrupled the map
    // tasks feeding the stitch groupBy's Exchange.
    def sideArr(arr: String, orient: Int,
                ownerT: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      transform(
        filter(
          transform(col(arr), (v, i) => struct(v.as("v"), i.as("i"))),
          s => s.getField("v") >= 0),
        s => struct(
          ((ownerT * 2L + orient) * 65536L + s.getField("i")).as("ifc_key"),
          (col("t") * 65536L + s.getField("v")).as("node_id")))
    val claims = base
      .select(explode(concat(
        sideArr("lf", 0, col("t")),            // my left edge: I own it
        sideArr("rt", 0, col("t") + 65536L),   // my right edge: east tile owns it
        sideArr("bt", 1, col("t")),            // my bottom row: I am the north tile
        sideArr("tp", 1, col("t") + 1L))).as("c")) // my top row: north neighbour owns it
      .select(col("c.ifc_key").as("ifc_key"), col("c.node_id").as("node_id"))
    (nodes, claims)
  }

  /** Equivalence edges between fragments of adjacent tiles: an interface
    * pixel slot claimed by BOTH sides joins their fragments. Every key
    * has ≤ 2 claimants by construction, so this is a bounded group-by,
    * never a fan-out join. */
  def stitchEdges(claims: DataFrame): DataFrame =
    claims.groupBy("ifc_key")
      .agg(min("node_id").as("src"), max("node_id").as("dst"), count(lit(1)).as("nc"))
      .where(col("nc") === 2 && col("src") =!= col("dst"))
      .select("src", "dst")

  /** Global components of the mosaic's vegetation mask:
    * (component, n_fragments, n_pixels), component = min fragment node
    * id — reproducible under any partitioning. */
  def components(tiles: DataFrame, kernelName: String,
                 smallGraph: Long = 4L << 20): DataFrame = {
    val (nodes, claims) = fragments(tiles, kernelName)
    val asg = ConnectedComponents.run(
      nodes.select(col("node_id").as("id")), stitchEdges(claims), smallGraph = smallGraph)
    asg.join(nodes, asg("id") === nodes("node_id"))
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_fragments"), sum("size").as("n_pixels"))
  }
}
