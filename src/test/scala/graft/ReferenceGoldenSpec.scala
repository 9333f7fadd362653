package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{CsvSources, Sinks}

/** Golden end-to-end tests through the user-facing [[Jobs]] façade: the
  * reference-format fixture CSVs (src/test/resources/reference, built by
  * scripts/make_reference_fixtures.py) run with the REFERENCE's
  * parameters (login: 2 fails / 2 s; order: pay within 15 min; tx: pay
  * waits 5 s, receipt waits 3 s). Expected values are computed
  * independently in DuckDB; each query sits next to its assert, over
  * these views:
  *
  * {{{
  * CREATE VIEW login AS SELECT * FROM read_csv('LoginLog.csv', header=false,
  *   columns={'userId':'BIGINT','ip':'VARCHAR','eventType':'VARCHAR','eventTime':'BIGINT'});
  * CREATE VIEW orders AS SELECT * FROM read_csv('OrderLog.csv', header=false,
  *   columns={'orderId':'BIGINT','eventType':'VARCHAR','txId':'VARCHAR','eventTime':'BIGINT'});
  * CREATE VIEW receipts AS SELECT * FROM read_csv('ReceiptLog.csv', header=false,
  *   columns={'txId':'VARCHAR','payChannel':'VARCHAR','timestamp':'BIGINT'});
  * CREATE VIEW clicks AS SELECT * FROM read_csv('AdClickLog.csv', header=false,
  *   columns={'userId':'BIGINT','adId':'BIGINT','province':'VARCHAR','city':'VARCHAR','timestamp':'BIGINT'});
  * CREATE VIEW apache AS SELECT strptime(split_part(line, ' ', 4), '%d/%m/%Y:%H:%M:%S') AS ts,
  *   split_part(line, ' ', 7) AS url
  *   FROM read_csv('apache.log', header=false, delim='\t', columns={'line':'VARCHAR'});
  * }}}
  */
class ReferenceGoldenSpec extends AnyFunSuite {
  private def res(f: String) = getClass.getResource(s"/reference/$f").getPath
  private lazy val spark = TestSpark.spark
  private val US = 1000000L

  test("CsvSources parse the reference fixtures with full row counts") {
    // SELECT count(*) FROM login / orders / receipts / clicks / apache
    //   → 48 / 75 / 16 / 143 / 2000
    assert(CsvSources.readLoginEvents(spark, res("LoginLog.csv")).count() == 48)
    assert(CsvSources.readOrderEvents(spark, res("OrderLog.csv")).count() == 75)
    assert(CsvSources.readReceiptEvents(spark, res("ReceiptLog.csv")).count() == 16)
    assert(CsvSources.readAdClicks(spark, res("AdClickLog.csv")).count() == 143)
    val apache = CsvSources.readApacheLog(spark, res("apache.log"))
    assert(apache.count() == 2000)
    // SELECT count(*) FROM apache WHERE ts IS NULL → 0
    assert(apache.filter(col("ts").isNull).count() == 0) // wall-format parse total
  }

  test("typed Dataset views: lambda ops over the reference record types") {
    import graft.sources.Records
    val fails = CsvSources.loginEvents(spark, res("LoginLog.csv"))
      .filter((e: Records.LoginEvent) => e.eventType == "fail")
      .map((e: Records.LoginEvent) => e.userId)(org.apache.spark.sql.Encoders.scalaLong)
      .collect()
    // SELECT count(*) FROM login WHERE eventType = 'fail' → 24
    assert(fails.length == 24)
    val pays = CsvSources.orderEvents(spark, res("OrderLog.csv"))
      .filter((e: Records.OrderEvent) => e.txId != null && e.txId.nonEmpty).count()
    // SELECT count(*) FROM orders WHERE txId <> '' → 37
    assert(pays == 37)
    val wechat = CsvSources.receiptEvents(spark, res("ReceiptLog.csv"))
      .filter((e: Records.ReceiptEvent) => e.payChannel == "wechat").count()
    // SELECT count(*) FROM receipts WHERE payChannel = 'wechat' → 9
    assert(wechat == 9)
    val beijing = CsvSources.adClickEvents(spark, res("AdClickLog.csv"))
      .filter((e: Records.AdClickEvent) => e.province == "beijing").count()
    // SELECT count(*) FROM clicks WHERE province = 'beijing' → 114
    assert(beijing == 114)
  }

  test("login monitor job: user 1035's consecutive-fail warnings") {
    val warns = Jobs.loginFail(spark, res("LoginLog.csv")).collect()
      .map(r => (r.getLong(0), r.getLong(1) / US, r.getLong(2) / US)).toSet
    // SELECT userId, prev_t, eventTime FROM (
    //   SELECT *, lag(eventType) OVER w AS prev_type, lag(eventTime) OVER w AS prev_t
    //   FROM login WINDOW w AS (PARTITION BY userId ORDER BY eventTime))
    // WHERE eventType = 'fail' AND prev_type = 'fail' AND eventTime - prev_t <= 2
    assert(warns == Set(
      (1035L, 1558430842L, 1558430843L),
      (1035L, 1558430843L, 1558430844L),
      (76456L, 1558430920L, 1558430921L)))
    // CEP/lag form agrees
    val cep = Jobs.loginFailCep(spark, res("LoginLog.csv")).collect()
      .map(r => (r.getLong(0), r.getLong(1) / US, r.getLong(2) / US)).toSet
    assert(cep == warns)
  }

  test("order timeout job keyed by orderId: 35 paid, 3 timeouts, 2 data-loss alarms") {
    val out = Jobs.orderTimeout(spark, res("OrderLog.csv")).collect()
      .map(r => (r.getLong(0), r.getString(3)))
    val byStatus = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    // WITH c AS (SELECT orderId, eventTime AS ct FROM orders WHERE eventType = 'create'),
    //      p AS (SELECT orderId, eventTime AS pt FROM orders WHERE eventType = 'pay'),
    //      paid AS (SELECT c.orderId FROM c JOIN p ON p.orderId = c.orderId
    //               AND p.pt >= c.ct AND p.pt < c.ct + 900)
    // SELECT count(*) FROM paid                                           → 35
    // SELECT list(orderId) FROM c WHERE orderId NOT IN (FROM paid)        → [34764, 34765, 34767]
    // SELECT list(orderId) FROM p WHERE orderId NOT IN (FROM paid)        → [34766, 34767]
    assert(byStatus("paid").size == 35)
    assert(byStatus("timeout") == Set(34764L, 34765L, 34767L))
    // 34766 paid with no create anywhere; 34767 paid after its timeout
    // already fired — the reference PF emits the data-loss alarm for it
    // too (state was cleared by the timer, pay re-arrives)
    assert(byStatus("paid_no_create") == Set(34766L, 34767L))
  }

  test("tx match job keyed by txId: 8 matched, 29+8 unmatched, splittable") {
    val tagged = Jobs.txMatch(spark, res("OrderLog.csv"), res("ReceiptLog.csv"))
    val split = Sinks.splitByTag(tagged, "outcome",
      Seq("matched", "unmatched_pay", "unmatched_receipt"))
    // WITH p AS (SELECT txId, eventTime AS pt FROM orders WHERE txId <> ''),
    //      m AS (SELECT p.txId FROM p JOIN receipts r ON r.txId = p.txId
    //            AND r.timestamp > p.pt - 3 AND r.timestamp < p.pt + 5)
    // SELECT count(*) FROM m                                              → 8
    // SELECT count(*) FROM p WHERE txId NOT IN (FROM m)                   → 29
    // SELECT count(*) FROM receipts WHERE txId NOT IN (FROM m)            → 8
    assert(split("matched").count() == 8)
    assert(split("unmatched_pay").count() == 29)
    assert(split("unmatched_receipt").count() == 8)
  }

  test("tx interval-join form finds the in-band pay/receipt pairs") {
    val joined = Jobs.txMatchJoin(spark, res("OrderLog.csv"), res("ReceiptLog.csv"))
    // SELECT count(*) FROM orders p JOIN receipts r ON r.txId = p.txId
    // WHERE p.txId <> '' AND r.timestamp BETWEEN p.eventTime - 3 AND p.eventTime + 5
    //   → 8
    assert(joined.count() == 8)
  }

  test("ad blacklist job: corrected z_FilterBlackListUser semantics") {
    val out = Jobs.adClickBlacklist(spark, res("AdClickLog.csv"), threshold = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val warns = out.filter(_._3 == "warn").map(t => (t._1, t._2)).toSet
    // WITH d AS (SELECT userId, adId, timestamp // 86400 AS day, count(*) AS n
    //            FROM clicks GROUP BY ALL)
    // SELECT list((userId, adId)) FROM d WHERE n > 2  → [(161501, 36156), (937166, 1715)]
    // SELECT sum(least(n, 2)) FROM d                  → 39
    // (the >100-click pair passes 2, warns once, then is suppressed)
    assert(warns == Set((937166L, 1715L), (161501L, 36156L)))
    assert(out.count(_._3 == "pass") == 39)
    // the same machine over the events table (click ad = props k % 10,
    // threshold 1): the second same-day click of a (user, ad) warns
    val evWarns = Jobs.adBlacklistWarnings(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // WITH c AS (SELECT user_id,
    //              CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) % 10 AS ad_id,
    //              epoch_us(ts) AS ts_us, event_id
    //            FROM 'sf0.001/events.parquet' WHERE event_type = 'click'),
    //      r AS (SELECT *, row_number() OVER (PARTITION BY user_id, ad_id,
    //              ts_us // 86400000000 ORDER BY ts_us, event_id) AS n FROM c)
    // SELECT user_id, ad_id, ts_us FROM r WHERE n = 2
    assert(evWarns == Set((4L, 3, 1704538398521305L), (4L, 8, 1704485184117796L)))
  }

  test("behavior-analytics jobs run end to end on the events table") {
    val sf = "/root/testdata/sf0.001"
    assert(Jobs.hotItems(spark, sf).count() > 0)
    assert(Jobs.pageView(spark, sf).count() > 0)
    assert(Jobs.uniqueVisitor(spark, sf).count() > 0)
    assert(Jobs.marketingByChannel(spark, sf).count() > 0)
    assert(Jobs.marketingAllChannel(spark, sf).count() > 0)
    assert(Jobs.adAnalysis(spark, sf).count() > 0)
    // WITH w AS (SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS win, url, count(*) AS cnt
    //            FROM apache GROUP BY ALL)
    // SELECT sum(least(n, 3)) FROM (SELECT win, count(*) AS n FROM w GROUP BY win) → 60
    assert(Jobs.networkFlowTopPages(spark, res("apache.log")).count() == 60)
  }
}
