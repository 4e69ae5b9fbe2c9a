package graft.tables

import graft.SparkSpec

/** [[MoRMaskProps]]' check on fixed histories: each one once disagreed
  * or covers a case the random histories reach rarely. */
class MoRMaskSpec extends SparkSpec {
  import MoRMaskProps._

  test("map-side mask, anti-join fallback and SPJ agree on fixed histories") {
    val histories = Seq(
      // DV tombstones in identity directories whose names need URL
      // escaping ("b c", "d%e"): the SPJ reader looked them up by the
      // unescaped path and resurrected the deleted rows
      (false, Some("v"), List(
        Append(List((Some(1L), Some("b c"), 0), (Some(4L), None, 2))),
        Upsert(List((Some(2L), Some("d%e"), 2), (Some(3L), Some("b c"), 1),
          (Some(2L), Some("d%e"), 1))),
        DvDelete(1), Upsert(List((Some(1L), Some("a"), 0))))),
      // keys re-inserted after their delete (the sequence rule), a
      // renamed key, a widened tombstone column, a mixed-spec snapshot
      (true, Some("bucket"), List(
        Append(List((Some(1L), Some("a"), 0), (Some(2L), None, 1),
          (None, Some("b c"), 1))),
        DeleteK(List(Some(1L), None)), Append(List((Some(1L), Some("a"), 3))),
        DeleteW(List(1)), RenameK, DeleteKV(List((Some(2L), None),
          (Some(1L), Some("a")))), WidenW, DeleteW(List(3)),
        Respec(Some("v")), Upsert(List((Some(2L), Some("d%e"), 0))),
        DvDelete(0))))
    histories.foreach { case (lineage, layout, ops) =>
      assert(mismatches(lineage, layout, ops) === Nil)
    }
  }
}
