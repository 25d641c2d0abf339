package graft.model

import org.apache.spark.sql.types._

/** Schemas for the engine's two data domains.
  *
  * 1. The TWSE BFI82U payload + `investment_data` table — the reference
  *    pipeline's contract (reference: `dags/scrapy_develop.ipynb` cell-2,
  *    `database/sql/create_table.sql:2-16`).
  * 2. The driver testdata star schema (`/root/repo/TESTDATA.md`).
  */
object Schemas {

  /** Nested schema of the TWSE "three major institutional investors" JSON
    * payload (reference: `dags/scrapy_develop.ipynb` cell-2 output;
    * SURVEY.md §1.1a). Declared explicitly — contract tables never use
    * schema inference.
    */
  val twsePayload: StructType = StructType(Seq(
    StructField("stat", StringType),
    StructField("title", StringType),
    StructField("fields", ArrayType(StringType)),
    StructField("date", StringType),
    StructField("data", ArrayType(ArrayType(StringType))),
    StructField("params", MapType(StringType, StringType, valueContainsNull = true)),
    StructField("notes", ArrayType(StringType))
  ))

  /** Column names of `investment_data`, positionally aligned with the
    * reference's flattened 12-vector + leading date (reference:
    * `database/sql/create_table.sql:3-15`, `dags/Final_app.py:54-66`).
    */
  val investmentCols: Seq[String] = Seq(
    "dt",
    "dealer_buy", "dealer_sell", "dealer_dif",
    "dealer_buy_hedge", "dealer_sell_hedge", "dealer_dif_hedge",
    "investment_buy", "investment_sell", "investment_dif",
    "foreign_buy", "foreign_sell", "foreign_dif"
  )

  /** `investment_data` at ingest fidelity: 13 string columns, exactly the
    * reference's all-TEXT DDL (`create_table.sql:2-16`). Amounts stay
    * strings here; the analytics layer casts to DECIMAL(38,0) — exactness
    * rationale at reference `README.md:292`.
    */
  val investmentData: StructType =
    StructType(investmentCols.map(StructField(_, StringType, nullable = false)))
}

/** The reference's manual golden-date test scenarios, checked in verbatim
  * as fixtures (reference `README.md:545-552`; FIXTURES.md §1). The `ok`
  * payload is the canonical 2022-08-19 response printed in
  * `dags/scrapy_develop.ipynb` cell-2.
  */
object TwseFixtures {

  /** Normal trading day — expect: one row appended + success message. */
  val ok: String =
    """{"stat":"OK","title":"111年08月19日 三大法人買賣金額統計表","fields":["單位名稱","買進金額","賣出金額","買賣差額"],"date":"20220819","data":[["自營商(自行買賣)","2,279,109,983","1,817,670,433","461,439,550"],["自營商(避險)","5,567,838,537","5,073,450,525","494,388,012"],["投信","4,094,216,360","2,519,550,872","1,574,665,488"],["外資及陸資","52,999,169,995","60,297,278,126","-7,298,108,131"],["合計","64,940,334,875","69,707,949,956","-4,767,615,081"]],"params":{"response":"json","dayDate":"20220819","controller":"fund","format":null,"action":"BFI82U","lang":"zh","monthDate":"20220822","weekDate":"20220822"},"notes":["自營商表示證券自營商專戶。"]}"""

  /** Market closed (weekend 2022-08-20) — `stat` is an apology string;
    * expect: pipeline terminates, no row, no message
    * (reference `README.md:209,546`).
    */
  val closed: String =
    """{"stat":"很抱歉，沒有符合條件的資料!","title":null,"fields":null,"date":"20220820","data":null,"params":{"response":"json","dayDate":"20220820"},"notes":null}"""

  /** Format drift (pre-IFRS 2010-01-06) — `stat` is OK but the table shape
    * differs, so the cleaned vector arity ≠ 12; expect: alert, no insert
    * (reference `README.md:547`, `Final_app.py:53`).
    */
  val drift: String =
    """{"stat":"OK","title":"99年01月06日 三大法人買賣金額統計表","fields":["單位名稱","買進金額","賣出金額"],"date":"20100106","data":[["自營商","4,521,333,000","4,380,932,000"],["投信","2,980,163,000","2,313,892,000"],["外資及陸資","21,652,624,000","15,622,596,000"],["合計","29,154,120,000","22,317,420,000"]],"params":{"response":"json","dayDate":"20100106"},"notes":[]}"""

  /** Success-message template (reference `Final_app.py:140`). */
  val successMsgSuffix = " 資料以正確爬取"

  /** Alert message on format drift (reference `Final_app.py:134`). */
  val alertMsg = "資料格式有變動，請重新設計爬蟲"
}
