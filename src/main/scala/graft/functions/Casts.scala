package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** groonga cast semantics (grn_caster_cast, /root/reference/lib/cast.cpp)
  * as Column expressions. These differ from both ANSI SQL and Spark
  * defaults at the edges, and loaders/filters that want reference-faithful
  * coercion use these instead of `Column.cast`:
  *
  *  - text→bool is "non-empty" (cast.cpp:2288 `GRN_TEXT_LEN(src) > 0`):
  *    "false" is TRUE, "" is false.
  *  - text→int (TEXT2DEST, cast.cpp:2197): the WHOLE string must parse as
  *    an integer (grn_atoi: optional '-', digits, no blanks/'+'); failing
  *    that, the whole string must parse as a number (grn_aton; float
  *    syntax) which is then truncated toward zero; anything else is
  *    invalid. "1.5"→1, "12abc"→invalid, " 9"→invalid.
  *  - numeric narrowing is a C++ `static_cast` (include/groonga/bulk.hpp:86+),
  *    i.e. two's-complement WRAP, not saturation and not an error:
  *    300→tinyint = 44, 5000000000→int = 705032704.
  *  - bool→text renders "true"/"false" (cast.cpp:1971); bool→num is 1/0.
  *  - invalid casts: strict callers surface NULL here (the engine analogue
  *    of GRN_INVALID_ARGUMENT); the `load` path substitutes the column
  *    default instead — `loose(col, default)` reproduces that.
  *
  * One deliberate divergence: a double whose truncation exceeds int64
  * range is NULL (strict) / default (loose); in C++ that static_cast is
  * undefined behavior, so there is no reference semantics to match.
  */
object Casts {

  /** grn_atoi-shaped integer literal (lib/str.c:1644): '-' + digits only */
  private val IntRe = "^-?[0-9]+$"
  /** grn_aton-shaped numeric literal: int, decimal, or exponent form */
  private val NumRe = "^-?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"

  /** two's-complement wrap of a BIGINT onto `bits` bits (static_cast).
    * pmod-first keeps the arithmetic overflow-free for any long input. */
  def wrapBits(c: Column, bits: Int): Column =
    if (bits >= 64) c
    else {
      val m = 1L << bits
      val half = 1L << (bits - 1)
      val u = ((c % m) + m) % m
      when(u >= half, u - m).otherwise(u)
    }

  /** text→int64 under groonga rules; NULL when the string is not a
    * grn_atoi integer nor a grn_aton number */
  def textToLong(c: Column): Column =
    when(c.rlike(IntRe), c.try_cast("long"))
      .when(c.rlike(NumRe), c.try_cast("double").try_cast("long"))

  /** text→intN: parse wide (above), then static_cast wrap */
  def textToInt(c: Column, bits: Int): Column = wrapBits(textToLong(c), bits)

  /** text→bool: non-empty (even "false" / "0") */
  def textToBool(c: Column): Column = length(c) > 0

  /** bool→text "true"/"false" */
  def boolToText(c: Column): Column = when(c, lit("true")).otherwise(lit("false"))

  /** num→bool: static_cast<bool> = (v != 0) */
  def numToBool(c: Column): Column = c =!= lit(0)

  /** numeric→intN narrowing: truncate toward zero (doubles), then wrap */
  def narrowToInt(c: Column, bits: Int): Column = wrapBits(c.try_cast("long"), bits)

  /** the `load` failure rule: invalid cast → column default, not an error */
  def loose(c: Column, default: Column): Column = coalesce(c, default)
  def loose(c: Column): Column = loose(c, lit(0L))
}
