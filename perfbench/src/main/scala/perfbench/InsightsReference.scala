package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.insights.InsightsConfig

/** Independent formulation of the insights output for the benchmark's
  * output check: the prepared rows are collected to the driver and every
  * non-empty grouping set is counted row by row in plain Scala, with no
  * Spark aggregation, cube or grouping id involved. Rendering follows the
  * reference semantics the engine documents (`InsightsEngine` scaladoc):
  * grouped non-id columns in canonical order as `col=label`, then the
  * value columns of grouped id columns (`min` per id, nulls vanish), then
  * the bare count; rows with a null in a grouped column drop out of that
  * grouping set only; threshold = floor(p/100 · N), compared with >=.
  *
  * Cost is rows × 2^k map updates, so it suits the benchmark's corpus
  * sizes, not production ones.
  */
object InsightsReference {
  def apply(prepared: DataFrame, cfg: InsightsConfig): Seq[String] = {
    val cols = cfg.groupingCols.toArray
    val k = cols.length
    require(k <= 20, s"reference enumeration over $k columns is too large")
    val valueCols = cfg.valueCols.toArray
    val rows = prepared.select((cols ++ valueCols).map(c => col(s"`$c`")).toIndexedSeq: _*)
      .collect()
    val n = rows.length.toLong
    val threshold = math.floor(cfg.thresholdPercent / 100.0 * n).toLong

    // dictionary codes per grouping column; code 0 is reserved for null
    val dicts = Array.fill(k)(mutable.HashMap.empty[Any, Int])
    val values = Array.fill(k)(mutable.ArrayBuffer[Any](null))
    val codes = Array.ofDim[Int](rows.length, k)
    rows.indices.foreach { r =>
      (0 until k).foreach { j =>
        val v = rows(r).get(j)
        codes(r)(j) = if (v == null) 0 else dicts(j).getOrElseUpdate(v, {
          values(j) += v; values(j).size - 1
        })
      }
    }
    val bits = values.map(v => 64 - java.lang.Long.numberOfLeadingZeros(v.size.toLong))
    val offsets = bits.scanLeft(0)(_ + _)
    require(offsets(k) + k <= 63, "grouping keys do not fit one long")
    val colMask = (0 until k).map(j => ((1L << bits(j)) - 1) << offsets(j)).toArray
    val setMask = Array.tabulate(1 << k)(m =>
      (0 until k).filter(j => (m >> (k - 1 - j) & 1) == 1).map(colMask).foldLeft(0L)(_ | _))

    val counts = mutable.LongMap.empty[Long]
    // min display value per id value (id column index -> code -> values)
    val idCols = (0 until k).filter(j => cfg.idValues.contains(cols(j)))
    val minValues = idCols.map(j => j -> mutable.HashMap.empty[Int, Array[String]]).toMap
    rows.indices.foreach { r =>
      var packed = 0L
      var nullSet = 0
      (0 until k).foreach { j =>
        val c = codes(r)(j)
        packed |= c.toLong << offsets(j)
        if (c == 0) nullSet |= 1 << (k - 1 - j)
      }
      var m = 1
      while (m < (1 << k)) {
        if ((m & nullSet) == 0) {
          val key = (m.toLong << offsets(k)) | (packed & setMask(m))
          counts.update(key, counts.getOrElse(key, 0L) + 1)
        }
        m += 1
      }
      idCols.foreach { j =>
        val vs = cfg.idValues(cols(j))
        val base = valueCols.indexOf(vs.head) + k
        val cur = minValues(j).getOrElseUpdate(codes(r)(j), Array.fill[String](vs.size)(null))
        vs.indices.foreach { t =>
          val v = rows(r).get(base + t)
          if (v != null) {
            val s = v.toString
            if (cur(t) == null || s.compareTo(cur(t)) < 0) cur(t) = s
          }
        }
      }
    }

    def label(j: Int, v: Any): String = cfg.buckets.get(cols(j)) match {
      case Some(w) =>
        val lo = v.asInstanceOf[Number].longValue
        s"[$lo-${lo + w}]"
      case None => v.toString
    }
    counts.iterator.filter(_._2 >= threshold).map { case (key, count) =>
      val m = (key >>> offsets(k)).toInt
      val grouped = (0 until k).filter(j => (m >> (k - 1 - j) & 1) == 1)
      def code(j: Int) = ((key >>> offsets(j)) & ((1L << bits(j)) - 1)).toInt
      val keyTerms = grouped.filterNot(j => cfg.idValues.contains(cols(j)))
        .map(j => s"${cols(j)}=${label(j, values(j)(code(j)))}")
      val valueTerms = grouped.filter(j => cfg.idValues.contains(cols(j))).flatMap { j =>
        val vs = cfg.idValues(cols(j))
        val mins = minValues(j)(code(j))
        vs.indices.filter(t => mins(t) != null).map(t => s"${vs(t)}=${mins(t)}")
      }
      (keyTerms ++ valueTerms :+ count.toString).mkString(";")
    }.toSeq
  }
}
