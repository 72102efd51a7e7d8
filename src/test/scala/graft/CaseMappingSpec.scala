package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions.{col, lower, upper}
import org.apache.spark.unsafe.types.UTF8String

/** `SessionTuning.tuned` pins `spark.sql.icu.caseMappings.enabled` off,
  * so `lower`/`upper` run on the JDK's case mapping instead of ICU's
  * (which costs a one-time Unicode-wide table build per JVM). These
  * checks hold the two paths equal wherever both Unicode tables define
  * the characters involved, and fail if the pin stops reaching the
  * generated code. */
class CaseMappingSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.sql.icu.caseMappings.enabled"

  /** Runs `body` with the shared session's conf restored afterwards. */
  private def restoringConf[T](body: => T): T = {
    val conf = spark.sessionState.conf
    val before = conf.getAllConfs
    try body
    finally {
      conf.getAllConfs.keys.filterNot(before.contains).foreach(conf.unsetConf)
      before.foreach { case (k, v) =>
        if (conf.getConfString(k, null) != v) conf.setConfString(k, v) }
    }
  }

  test("JDK and ICU case mappings agree on every code point both Unicode tables define") {
    type Mapping = UTF8String => UTF8String
    def one(cp: Int) = UTF8String.fromString(new String(Character.toChars(cp)))
    def diverging(jdk: Mapping, icu: Mapping): Seq[Int] =
      (0 to Character.MAX_CODE_POINT)
        .filter(cp => cp < Character.MIN_SURROGATE || cp > Character.MAX_SURROGATE)
        .filter(cp => jdk(one(cp)) != icu(one(cp)))
    // a divergence is explained when the JDK's tables lack the code
    // point or a code point of ICU's mapping of it
    def unexplained(cps: Seq[Int], icu: Mapping) = cps.filter { cp =>
      Character.isDefined(cp) &&
        icu(one(cp)).toString.codePoints().allMatch(c => Character.isDefined(c))
    }
    val lowers = diverging(CollationSupport.Lower.execBinary, CollationSupport.Lower.execBinaryICU)
    val uppers = diverging(CollationSupport.Upper.execBinary, CollationSupport.Upper.execBinaryICU)
    assert(unexplained(lowers, CollationSupport.Lower.execBinaryICU).isEmpty)
    assert(unexplained(uppers, CollationSupport.Upper.execBinaryICU).isEmpty)
    val icu = com.ibm.icu.util.VersionInfo.ICU_VERSION
    if (Runtime.version().toString.startsWith("17.0.20") &&
        icu.getMajor == 77 && icu.getMinor == 1) {
      // Vithkuqi and Latin Extended-D letters newer than JDK 17's tables
      assert(lowers.size == 67 && uppers.size == 67, s"${lowers.size} / ${uppers.size}")
      assert(lowers.contains(0x10570) && lowers.contains(0xA7C0))
    }
  }

  test("mixed-script strings map identically with and without ICU case mappings") {
    val words = Seq("ΟΔΥΣΣΕΥΣ ΚΑΙ ΣΟΦΟΣ", "ὈΔΥΣΣΕΎΣ", "İstanbul", "ISTANBUL ı", "Straße",
      "ǅemal ǆ Ǆ", "ﬁnal ﬀ", "Ǉubljana", "ΣΑΣ.", "Ꭰꭰ", "Ａｂｃ", "ascii Only")
    def mapped(icu: Boolean) = restoringConf {
      spark.conf.set(Key, icu.toString)
      spark.sparkContext.parallelize(words, 2).toDF("s")
        .select(col("s"), lower(col("s")), upper(col("s")))
        .collect().map(r => (r.getString(0), (r.getString(1), r.getString(2)))).toMap
    }
    val jdk = mapped(icu = false)
    assert(jdk == mapped(icu = true))
    assert(jdk("Straße")._2 == "STRASSE")
    assert(jdk("ΟΔΥΣΣΕΥΣ ΚΑΙ ΣΟΦΟΣ")._1 == "οδυσσευς και σοφος")
  }

  test("a SessionTuning.tuned session generates the non-ICU lower()") {
    val before = spark.conf.getOption(Key)
    restoringConf {
      val s = SessionTuning.tuned(SparkSession.builder()).getOrCreate()
      assert(s.conf.get(Key) == "false")
      val code = codegenString(s.sparkContext.parallelize(Seq("A"), 1).toDF("s")
        .select(lower(col("s"))).queryExecution.executedPlan)
      assert(code.contains("CollationSupport.Lower.execBinary("), code)
      assert(!code.contains("execBinaryICU"))
    }
    assert(spark.conf.getOption(Key) == before, "the shared session's conf is restored")
  }
}
