package graft

/** `Gated.collect`'s boundary, with a 100-row gate over 8 partitions,
  * and what reaches the driver past it over 64. */
class GatedSpec extends SparkSpec {

  private val gate = 100

  /** `counts(i)` rows in partition i; ids are 0 until counts.sum. */
  private def spread(counts: Int*): org.apache.spark.sql.Dataset[Long] = {
    import spark.implicits._
    val starts = counts.scanLeft(0L)(_ + _)
    val ds = spark.sparkContext
      .parallelize(counts.indices, counts.length)
      .mapPartitionsWithIndex((i, _) => Iterator.range(0, counts(i)).map(starts(i) + _))
      .toDS()
    assert(ds.rdd.getNumPartitions == counts.length)
    ds
  }

  test("Gated.collect: exact at the gate, None past it, one job") {
    val even = Seq.fill(8)(gate / 8) // 96 rows, 12 per partition
    val cases = Seq(
      "empty" -> Seq.fill(8)(0),
      "exactly gate" -> (even.init :+ (gate - even.init.sum)),
      "gate in one partition" -> (gate +: Seq.fill(7)(0)),
      "gate + 1 spread thin" -> (even.init :+ (gate + 1 - even.init.sum)),
      "gate + 1 in one partition" -> (Seq.fill(7)(0) :+ (gate + 1)))
    cases.foreach { case (name, counts) =>
      val n = counts.sum
      val ds = spread(counts: _*)
      var got: Option[Array[Long]] = null
      assert(jobsDuring { got = Gated.collect(ds, gate) } == 1,
        s"$name: the gated collect must run one job")
      if (n <= gate) assert(got.map(_.sorted.toSeq) == Some(0L until n), name)
      else assert(got.isEmpty, s"$name: $n rows passed a $gate-row gate")
    }
  }

  test("past the gate, 64 full partitions send the driver no more than one does") {
    // a per-partition cap alone would send 64 × (gate + 1) rows; the
    // driver must receive at most gate + 1, as from a single partition
    val many = spread(Seq.fill(64)(2 * gate): _*)
    val one = spread(64 * 2 * gate)
    val Seq(manyBytes) = resultBytesByJob(assert(Gated.collect(many, gate).isEmpty))
    val Seq(oneBytes) = resultBytesByJob(assert(Gated.collect(one, gate).isEmpty))
    assert(manyBytes <= 2 * oneBytes,
      s"64 partitions sent $manyBytes bytes, one partition $oneBytes")
  }
}
