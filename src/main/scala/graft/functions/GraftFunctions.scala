package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}

/** graft's native function surface, registered two ways:
  *
  *  - [[GraftFunctions.register]] — per-session temp functions, used by
  *    the operator library itself (idempotent);
  *  - [[GraftExtensions]] — a `SparkSessionExtensions` injector for
  *    `spark.sql.extensions=graft.functions.GraftExtensions`, making the
  *    functions first-class in every session of a deployment (the
  *    idiomatic Spark plugin path).
  */
object GraftFunctions {

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (e => DotProduct(e(0), e(1))),
    "graft_topk" -> (e => TopKBy(e(0), e(1), e(2))),
    "graft_s2_cell" -> (e => S2CellToken(e(0), e(1), e(2))),
    "graft_s2_center" -> (e => S2CellCenter(e(0))),
    "graft_s2_cell_polygon" -> (e => S2CellPolygon(e(0))),
    "graft_s2_neighbors" -> (e => S2CellNeighbors(e(0))),
    "graft_s2_polygon_cover" -> (e => S2PolygonCover(e(0), e(1))),
    "graft_s2_line_cover" -> (e => S2LineCover(e(0), e(1))),
    "graft_geo_dist_line" -> (e => GeoDistPointToLine(e(0), e(1), e(2))),
    "graft_geo_closest_line" -> (e => GeoClosestPointOnLine(e(0), e(1), e(2))),
    "graft_h3_cell" -> (e => H3CellToken(e(0), e(1), e(2))),
    "graft_h3_center" -> (e => H3CellCenter(e(0))),
    "graft_h3_boundary" -> (e => H3CellBoundary(e(0))),
    "graft_h3_neighbors" -> (e => H3CellNeighbors(e(0))),
    "graft_h3_rings" -> (e => H3CellRings(e(0), e(1))),
    "graft_h3_level" -> (e => H3CellLevel(e(0))),
    "graft_h3_polygon_cover" -> (e => H3PolygonCover(e(0), e(1))),
    "graft_h3_line_cover" -> (e => H3LineCover(e(0), e(1))),
    "graft_h3_parent" -> (e => H3CellParent(e(0), e(1))),
    "graft_h3_children" -> (e => H3CellChildren(e(0), e(1))),
    "graft_h3_compact" -> (e => H3CellCompact(e(0))),
    "graft_h3_uncompact" -> (e => H3CellUncompact(e(0), e(1))),
    "graft_ipv4_cidrs" -> (e => Ipv4RangeToCidrs(e(0), e(1))),
    "graft_geo_point_buffer" -> (e => GeoPointBufferExpr(e(0), e(1), e(2))),
    "graft_geo_line_buffer" -> (e => GeoLineBufferExpr(e(0), e(1))),
    "graft_geo_polygon_buffer" -> (e => GeoPolygonBufferExpr(e(0), e(1))),
    "graft_geo_simplify_line" -> (e => GeoSimplifyLineExpr(e(0), e(1))),
    "graft_geo_simplify_polygon" -> (e => GeoSimplifyPolygonExpr(e(0), e(1))),
    "graft_geo_clip_line" -> (e => GeoClipLineExpr(e(0), e(1))),
    "graft_geo_poly_bool" -> (e => GeoPolyBoolExpr(e(0), e(1), e(2))),
    "graft_geo_union_polys" -> (e => GeoUnionPolygonsExpr(e(0))),
    "graft_geo_union_lines" -> (e => GeoUnionLinesExpr(e(0))),
    "graft_codepoints" -> (e => UnicodeCodepoints(e(0))),
    "graft_from_codepoints" -> (e => UnicodeFromCodepoints(e(0))),
    "graft_punycode_encode" -> (e => PunycodeEncode(e(0))),
    "graft_punycode_decode" -> (e => PunycodeDecode(e(0))),
    "graft_ipv6_canon" -> (e => Ipv6Canonical(e(0))),
    "graft_ipv6_mask" -> (e => Ipv6CanonicalMask(e(0), e(1))),
    "graft_ipv6_cmp" -> (e => Ipv6Compare(e(0), e(1), e(2))),
    "graft_make_bag" -> (e => BagMergeAgg(e(0))),
    "graft_build_schema" -> (e => BuildSchemaAgg(e(0))),
    "graft_gzip_compress" -> (e => GzipCompress(e(0))),
    "graft_gzip_decompress" -> (e => GzipDecompress(e(0))),
    "graft_zlib_compress" -> (e => ZlibCompress(e(0))),
    "graft_zlib_decompress" -> (e => ZlibDecompress(e(0))),
    "graft_parse_csv" -> (e => CsvParseExpr(e(0))),
    "graft_parse_cmdline" -> (e => CommandLineExpr(e(0))),
    // Spark's own codegen Bloom probe (the expression behind the
    // runtime-filter rewrite) — the class ships in catalyst but 4.1.2
    // does not expose it in FunctionRegistry, so graft registers it
    // (the dedup index prefilter probes a written sketch with it)
    "graft_might_contain" -> (e => BloomFilterMightContain(e(0), e(1))),
    "graft_ibeta" -> (e => GraftIbeta(e(0), e(1), e(2))),
    "graft_erf" -> (e => GraftErf(e(0))),
    "graft_beta_inv" -> (e => GraftBetaInv(e(0), e(1), e(2))),
  )

  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** `spark.sql.extensions` entry point: the functions above, plus the
  * optimizer rule that answers the dashboard's aggregates over an
  * upsert table's latest version from its summary sidecar
  * ([[graft.streaming.SummaryScan]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // once, after operator optimization has settled the plan's shape:
    // a shape that matches without a summary reads for it only once
    ext.injectPreCBORule(graft.streaming.SummaryScan(_))
  }
}
