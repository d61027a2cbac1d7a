package graft

package object ops {

  /** Exact wide-integer SQL type for sums and products that overflow
    * BIGINT; both engines keep such intermediates exact. */
  val dec = "decimal(38,0)"
}
