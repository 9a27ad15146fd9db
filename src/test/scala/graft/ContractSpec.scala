package graft

import graft.gates.Gate

/** Guards on the driver contract itself: every query entry must be
  * runnable, and the two driver maps must hold exactly the declared
  * gates — a gate lost or doubled would silently weaken (or break) the
  * driver's correctness gate. */
class ContractSpec extends GraftSpec {

  test("gate names are distinct; queries and oracleSql hold one entry per gate") {
    val all = SparkEntry.gates
    val names = all.map(_.name)
    assert(names.distinct == names, s"duplicate gate names: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.size == all.size && SparkEntry.oracleSql.size == all.size)
    all.foreach { g =>
      assert(SparkEntry.queries(g.name) eq g.build, g.name)
      assert(SparkEntry.oracleSql(g.name) == g.oracleSql, g.name)
    }
    // a name-keyed map would keep only the last of two equal names
    val twice = Seq(all.head, all.head.copy(oracleSql = "SELECT 1"))
    val e = intercept[IllegalArgumentException](Gate.unique(twice))
    assert(e.getMessage.contains(all.head.name))
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL contains no tabs or carriage returns (json-dump hygiene)") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(!sql.contains('\t') && !sql.contains('\r'), k)
    }
  }

  test("every gate output column is scalar (driver row-sorter contract)") {
    // The driver sorts result rows through pandas, which crashes on a
    // non-scalar cell ("unhashable type: numpy.ndarray" — the r6
    // input_layer_assemble failure). Arrays/structs/maps must leave the
    // gate serialized via the rawCsv/numCsv convention. check.py
    // mirrors this guard python-side.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val exempt = Set( // side-effecting builders (write temp files / run
                      // a stream); their scalar-only schemas are pinned
                      // by their own green driver gates
      "scan_orc_roundtrip", "stream_dedup_ids")
    SparkEntry.queries.keys.filterNot(exempt).toSeq.sorted.foreach { name =>
      val bad = SparkEntry.queries(name)(spark, sf).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[StructType] ||
          f.dataType.isInstanceOf[MapType] => s"${f.name}: ${f.dataType.simpleString}"
      }
      assert(bad.isEmpty,
        s"$name outputs non-scalar columns ${bad.mkString(", ")} — serialize via rawCsv/numCsv")
    }
  }

}
