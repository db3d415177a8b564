package graft.query

import java.time.LocalDate
import graft.SparkSpec

class ReaderSpec extends SparkSpec {

  test("regulatory-date indicator selection follows the cutover calendar") {
    // intra reduction 2024-06-13: 7 sessions before, 3 after
    assert(Reader.indicatorFor("intra", LocalDate.parse("2024-06-12")).size == 7)
    assert(Reader.indicatorFor("intra", LocalDate.parse("2024-06-13")).size == 3)
    // secundaria dual price from 2024-11-20
    assert(Reader.indicatorFor("secundaria", LocalDate.parse("2024-11-19")) == Seq(634))
    assert(Reader.indicatorFor("secundaria", LocalDate.parse("2024-11-20")) == Seq(634, 2130))
    // terciaria single price from 2024-12-10
    assert(Reader.indicatorFor("terciaria", LocalDate.parse("2024-12-09")) == Seq(676, 677))
    assert(Reader.indicatorFor("terciaria", LocalDate.parse("2024-12-10")) == Seq(2197))
    assert(Reader.indicatorFor("diario", LocalDate.parse("2025-01-01")) == Seq(600))
    intercept[Reader.UnknownMarket] {
      Reader.indicatorFor("nope", LocalDate.parse("2024-01-01"))
    }
  }
}
