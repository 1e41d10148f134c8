package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.operators._
import graft.sources.InMemoryTableStore

/** Scenario fixtures mirror the reference's integration tests
  * (/root/reference/test/test_org/test_integration.py:59-303), re-run
  * against the in-memory store.
  */
object Fixture {
  import SparkTestBase.spark
  import spark.implicits._

  val catalog = new Catalog(Seq(
    TableSchema("Account", Seq(
      FieldMeta("Id", "id", "tns:ID"),
      FieldMeta("Name", "string", "xsd:string"),
      FieldMeta("ParentId", "reference", "tns:ID", Seq("Account"))),
      keyPrefix = "001", salesforceIds = true),
    TableSchema("Contact", Seq(
      FieldMeta("Id", "id", "tns:ID"),
      FieldMeta("LastName", "string", "xsd:string"),
      FieldMeta("IsEmailBounced", "boolean", "xsd:boolean"),
      FieldMeta("AccountId", "reference", "tns:ID", Seq("Account")),
      FieldMeta("ReportsToId", "reference", "tns:ID", Seq("Contact"))),
      keyPrefix = "003", salesforceIds = true),
    TableSchema("Task", Seq(
      FieldMeta("Id", "id", "tns:ID"),
      FieldMeta("Subject", "string", "xsd:string"),
      FieldMeta("WhatId", "reference", "tns:ID", Seq("Account", "Opportunity"))),
      keyPrefix = "00T", salesforceIds = true),
    TableSchema("Opportunity", Seq(
      FieldMeta("Id", "id", "tns:ID"),
      FieldMeta("Name", "string", "xsd:string"),
      FieldMeta("AccountId", "reference", "tns:ID", Seq("Account"))),
      keyPrefix = "006", salesforceIds = true),
  ))

  def acct(n: Int): String = f"001000000000$n%03dAAA"
  def cont(n: Int): String = f"003000000000$n%03dAAA"
  def task(n: Int): String = f"00T000000000$n%03dAAA"
  def oppy(n: Int): String = f"006000000000$n%03dAAA"

  /** Account tree: 1 ← 2 ← 3 (parent chain), 3 ← 4, and 5 standalone. */
  def accounts: DataFrame = Seq(
    (acct(1), "Root", null.asInstanceOf[String]),
    (acct(2), "Mid", acct(1)),
    (acct(3), "Caprica Cosmetics", acct(2)),
    (acct(4), "Leaf", acct(3)),
    (acct(5), "Unrelated", null.asInstanceOf[String]),
  ).toDF("Id", "Name", "ParentId")

  def contacts: DataFrame = Seq(
    (cont(1), "Adama", "false", acct(3), null.asInstanceOf[String]),
    (cont(2), "Roslin", "true", acct(3), cont(1)),
    (cont(3), "Baltar", "false", acct(5), null.asInstanceOf[String]),
    (cont(4), "Tigh", "false", null.asInstanceOf[String], cont(1)),
  ).toDF("Id", "LastName", "IsEmailBounced", "AccountId", "ReportsToId")

  def tasks: DataFrame = Seq(
    (task(1), "Call about Account", acct(3)),
    (task(2), "Oppy follow-up", oppy(1)),
    (task(3), "Unrelated acct task", acct(5)),
  ).toDF("Id", "Subject", "WhatId")

  def oppys: DataFrame = Seq(
    (oppy(1), "Big Deal", acct(3)),
    (oppy(2), "Other Deal", acct(5)),
  ).toDF("Id", "Name", "AccountId")

  def store(tables: (String, DataFrame)*): InMemoryTableStore = {
    val st = new InMemoryTableStore(spark, catalog.byName)
    tables.foreach { case (n, df) => st.register(n, df) }
    st
  }
}

class ExtractEngineSpec extends AnyFunSuite {
  import Fixture._
  lazy val spark = SparkTestBase.spark

  def ids(df: DataFrame): Set[String] =
    df.select("Id").collect().map(_.getString(0)).toSet

  /** 10-node parent chain seeded in the middle: closure needs ~5 changed
    * fixpoint passes (one parent + one child frontier per pass), so a
    * stop after pass 1 or 2 is a genuine MID-fixpoint kill. */
  def deep: DataFrame = {
    import spark.implicits._
    (1 to 10).map(i => (acct(i), if (i == 6) "Seed" else s"A$i",
      if (i == 1) null.asInstanceOf[String] else acct(i - 1)))
      .toDF("Id", "Name", "ParentId")
  }
  def deepSteps = Seq(
    ExtractStep("Account", ExtractionScope.Query("Name = 'Seed'"),
      Seq("Id", "Name", "ParentId")))
  def csvOf(op: ExtractOperation, dir: String): String = {
    val path = s"$dir/Account"
    op.writeCsv("Account", path)
    new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .mkString.linesIterator.toSeq.sorted.mkString("\n")
  }
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  def manifest(dir: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$dir/extract_state.json"))
  /** Every part the manifest's roles name: rows, required sets, deltas. */
  def referencedParts(m: com.fasterxml.jackson.databind.JsonNode): Set[String] = {
    import scala.jdk.CollectionConverters._
    (m.path("rows").elements().asScala ++ m.path("required").elements().asScala ++
      m.path("partial").path("deltas").elements().asScala).map(_.asText()).toSet
  }
  def listing(dir: String): Set[String] = new java.io.File(dir).list().toSet

  test("self-lookup fixpoint traces the whole connected tree (integration.py:59-90)") {
    val op = new ExtractOperation(store("Account" -> accounts), catalog, Seq(
      ExtractStep("Account", ExtractionScope.Query("Name = 'Caprica Cosmetics'"),
        Seq("Id", "Name", "ParentId"))))
    assert(op.execute() == 0)
    assert(ids(op.result("Account")) == Set(acct(1), acct(2), acct(3), acct(4)))
  }

  test("reliable checkpointing: extract fixpoint green with checkpoint() cuts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reliable_ckpt").toString
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    spark.conf.set("spark.graft.checkpoint.dir", dir)
    try {
      val op = new ExtractOperation(store("Account" -> accounts), catalog, Seq(
        ExtractStep("Account", ExtractionScope.Query("Name = 'Caprica Cosmetics'"),
          Seq("Id", "Name", "ParentId"))))
      assert(op.execute() == 0)
      assert(ids(op.result("Account")) == Set(acct(1), acct(2), acct(3), acct(4)))
      // The cuts really went through the reliable path: checkpoint files
      // exist under the configured dir.
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"no checkpoint files written under $dir")
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      spark.conf.unset("spark.graft.checkpoint.dir")
    }
  }

  test("trace-none stops at the seed") {
    val op = new ExtractOperation(store("Account" -> accounts), catalog, Seq(
      ExtractStep("Account", ExtractionScope.Query("Name = 'Caprica Cosmetics'"),
        Seq("Id", "Name", "ParentId"),
        selfLookupBehavior = SelfLookupBehavior.TraceNone)))
    assert(op.execute() == 0)
    assert(ids(op.result("Account")) == Set(acct(3)))
  }

  test("descendents pass pulls children of extracted parents (integration.py:92-128)") {
    val op = new ExtractOperation(
      store("Account" -> accounts, "Contact" -> contacts), catalog, Seq(
        ExtractStep("Account", ExtractionScope.Query("Name = 'Caprica Cosmetics'"),
          Seq("Id", "Name", "ParentId"),
          selfLookupBehavior = SelfLookupBehavior.TraceNone),
        ExtractStep("Contact", ExtractionScope.Descendents,
          Seq("Id", "LastName", "AccountId", "ReportsToId"))))
    assert(op.execute() == 0)
    // Contacts of acct3 plus the self-lookup fixpoint pulling Tigh's manager
    // chain: cont1, cont2 (children of acct3); cont4 reports to cont1 →
    // pulled only if a *child* pass runs on ReportsToId: cont4's ReportsToId
    // = cont1 which IS extracted → child pass finds cont4.
    assert(ids(op.result("Contact")) == Set(cont(1), cont(2), cont(4)))
  }

  test("dependent lookups register parents extracted later (integration.py:130-175)") {
    val op = new ExtractOperation(
      store("Account" -> accounts, "Contact" -> contacts), catalog, Seq(
        ExtractStep("Contact", ExtractionScope.Query("LastName = 'Baltar'"),
          Seq("Id", "LastName", "AccountId")),
        ExtractStep("Account", ExtractionScope.Descendents,
          Seq("Id", "Name", "ParentId"),
          selfLookupBehavior = SelfLookupBehavior.TraceNone)))
    assert(op.execute() == 0)
    assert(ids(op.result("Contact")) == Set(cont(3)))
    // Baltar's account (acct5) resolved as a dependency.
    assert(ids(op.result("Account")) == Set(acct(5)))
  }

  test("missing dependency is an error (amaxa:805-818)") {
    val contactsBadFk = {
      import spark.implicits._
      Seq((cont(9), "Ghost", "001000000000999AAA"))
        .toDF("Id", "LastName", "AccountId")
    }
    val op = new ExtractOperation(
      store("Account" -> accounts, "Contact" -> contactsBadFk), catalog, Seq(
        ExtractStep("Contact", ExtractionScope.AllRecords, Seq("Id", "LastName", "AccountId")),
        ExtractStep("Account", ExtractionScope.Descendents, Seq("Id", "Name", "ParentId"),
          selfLookupBehavior = SelfLookupBehavior.TraceNone)))
    assert(op.execute() == -1)
    assert(op.errors("Account").exists(_.contains("Unable to resolve dependencies")))
  }

  test("outside reference: drop-field nulls the FK (references.rst:29-45)") {
    val op = new ExtractOperation(
      store("Account" -> accounts, "Contact" -> contacts), catalog, Seq(
        ExtractStep("Account", ExtractionScope.Query("Name = 'Caprica Cosmetics'"),
          Seq("Id", "Name", "ParentId"),
          selfLookupBehavior = SelfLookupBehavior.TraceNone),
        ExtractStep("Contact", ExtractionScope.Query("LastName = 'Baltar'"),
          Seq("Id", "LastName", "AccountId"),
          outsideLookupBehavior = OutsideLookupBehavior.DropField)))
    assert(op.execute() == 0)
    val row = op.result("Contact").collect().head
    assert(row.getAs[String]("AccountId") == null) // acct5 not extracted → dropped
  }

  test("outside reference: error behavior fails the step") {
    val op = new ExtractOperation(
      store("Account" -> accounts, "Contact" -> contacts), catalog, Seq(
        ExtractStep("Account", ExtractionScope.Query("Name = 'Caprica Cosmetics'"),
          Seq("Id", "Name", "ParentId"),
          selfLookupBehavior = SelfLookupBehavior.TraceNone),
        ExtractStep("Contact", ExtractionScope.Query("LastName = 'Baltar'"),
          Seq("Id", "LastName", "AccountId"),
          outsideLookupBehavior = OutsideLookupBehavior.Error)))
    assert(op.execute() == -1)
    assert(op.errors("Contact").exists(_.contains("outside reference")))
  }

  test("polymorphic dependent lookup routes by key prefix (integration.py:177-203)") {
    val op = new ExtractOperation(
      store("Account" -> accounts, "Task" -> tasks, "Opportunity" -> oppys),
      catalog, Seq(
        ExtractStep("Task", ExtractionScope.Query("Subject = 'Oppy follow-up'"),
          Seq("Id", "Subject", "WhatId")),
        ExtractStep("Opportunity", ExtractionScope.Descendents,
          Seq("Id", "Name", "AccountId"),
          outsideLookupBehavior = OutsideLookupBehavior.DropField)))
    assert(op.execute() == 0)
    assert(ids(op.result("Task")) == Set(task(2)))
    // WhatId = oppy1 routed to Opportunity (prefix 006) and resolved.
    assert(ids(op.result("Opportunity")) == Set(oppy(1)))
  }

  test("extract output honors the Id-first-sorted column contract (S5)") {
    val op = new ExtractOperation(store("Account" -> accounts), catalog, Seq(
      ExtractStep("Account", ExtractionScope.AllRecords, Seq("Id", "Name", "ParentId"))))
    assert(op.execute() == 0)
    assert(op.result("Account").columns.toSeq == Seq("Id", "Name", "ParentId"))
  }

  test("zero-match extraction yields an empty result with the field scope") {
    val op = new ExtractOperation(store("Account" -> accounts), catalog, Seq(
      ExtractStep("Account", ExtractionScope.Query("Name = 'No Such Account'"),
        Seq("Id", "Name", "ParentId"))))
    assert(op.execute() == 0)
    val r = op.result("Account")
    assert(r.isEmpty)
    assert(r.columns.toSeq == Seq("Id", "Name", "ParentId"))
  }

  test("extract resume: kill after step 1, restore, finish — output CSVs " +
       "byte-identical to an uninterrupted run") {
    def mkSteps = Seq(
      ExtractStep("Account", ExtractionScope.Query("Name = 'Caprica Cosmetics'"),
        Seq("Id", "Name", "ParentId")),
      ExtractStep("Contact", ExtractionScope.Descendents,
        Seq("Id", "LastName", "AccountId", "ReportsToId")))
    def csvBytes(op: ExtractOperation, dir: String): Map[String, String] =
      Seq("Account", "Contact").map { t =>
        val path = s"$dir/$t"
        op.writeCsv(t, path)
        // Deterministic single logical content: concatenate part files in
        // name order (coalesce is not forced, so compare content).
        val parts = new java.io.File(path).listFiles()
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        t -> parts.map(f => new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
          .mkString.linesIterator.toSeq.sorted.mkString("\n")
      }.toMap

    val straightDir = java.nio.file.Files.createTempDirectory("graft_xr_a").toString
    val opA = new ExtractOperation(store("Account" -> Fixture.accounts,
      "Contact" -> Fixture.contacts), catalog, mkSteps)
    assert(opA.execute() == 0)
    val a = csvBytes(opA, straightDir)

    val stateDir = java.nio.file.Files.createTempDirectory("graft_xr_state").toString
    val opB1 = new ExtractOperation(store("Account" -> Fixture.accounts,
      "Contact" -> Fixture.contacts), catalog, mkSteps)
    // exit 1 = incomplete-but-resumable: the controlled kill.
    assert(opB1.execute(Some(stateDir), stopAfterSteps = 1) == 1)
    val opB2 = new ExtractOperation(store("Account" -> Fixture.accounts,
      "Contact" -> Fixture.contacts), catalog, mkSteps)
    opB2.loadState(stateDir)
    assert(opB2.execute(Some(stateDir), Int.MaxValue) == 0)
    val resumedDir = java.nio.file.Files.createTempDirectory("graft_xr_b").toString
    val b = csvBytes(opB2, resumedDir)

    assert(a == b, s"resumed CSVs differ from the uninterrupted run:\n$a\nvs\n$b")
    assert(a("Account").nonEmpty && a("Contact").nonEmpty)
  }

  test("mid-fixpoint resume: kill after pass 2 of a deep self-lookup " +
       "chain, restore, finish — CSVs byte-identical to an uninterrupted run") {
    // A stop after pass 2 of the deep chain: the state on disk is a
    // partial marker ("partial" entry, completed = 0), not a step boundary.
    def mkSteps = deepSteps

    val straightDir = java.nio.file.Files.createTempDirectory("graft_xfp_a").toString
    val opA = new ExtractOperation(store("Account" -> deep), catalog, mkSteps)
    assert(opA.execute() == 0)
    val a = csvOf(opA, straightDir)
    assert(ids(opA.result("Account")) == (1 to 10).map(acct).toSet,
      "uninterrupted run must close over the whole chain")

    val stateDir = java.nio.file.Files.createTempDirectory("graft_xfp_state").toString
    val opB1 = new ExtractOperation(store("Account" -> deep), catalog, mkSteps)
    assert(opB1.execute(Some(stateDir), Int.MaxValue, stopAfterPasses = 2) == 1,
      "expected an incomplete-but-resumable mid-fixpoint stop")
    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$stateDir/extract_state.json")), "UTF-8")
    assert(marker.contains("\"partial\""), s"marker must be mid-step: $marker")
    assert(marker.contains("\"completed\":0"), s"no step may be complete: $marker")

    val opB2 = new ExtractOperation(store("Account" -> deep), catalog, mkSteps)
    opB2.loadState(stateDir)
    assert(opB2.execute(Some(stateDir), Int.MaxValue) == 0)
    val resumedDir = java.nio.file.Files.createTempDirectory("graft_xfp_b").toString
    val b = csvOf(opB2, resumedDir)
    assert(a == b, s"mid-fixpoint resumed CSV differs:\n$a\nvs\n$b")
    // Step completion reclaimed the delta dirs and dropped the partial
    // marker entry: the final checkpoint is an ordinary step boundary.
    val finalMarker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$stateDir/extract_state.json")), "UTF-8")
    assert(!finalMarker.contains("\"partial\""), finalMarker)
    // The deltas were deleted with their step: the directory holds
    // exactly the manifest and the parts its roles name.
    val m = manifest(stateDir)
    assert(listing(stateDir) == referencedParts(m) + "extract_state.json",
      s"state dir ${listing(stateDir)} vs manifest $m")
  }

  test("double-kill mid-fixpoint: kill at pass 1, resume, kill again one " +
       "pass later, resume to completion — still byte-identical") {
    def mkSteps = deepSteps
    val opA = new ExtractOperation(store("Account" -> deep), catalog, mkSteps)
    assert(opA.execute() == 0)
    val want = ids(opA.result("Account"))
    assert(want == (1 to 10).map(acct).toSet)

    val stateDir = java.nio.file.Files.createTempDirectory("graft_xfp2_state").toString
    // Kill 1: one changed pass into the fixpoint.
    val op1 = new ExtractOperation(store("Account" -> deep), catalog, mkSteps)
    assert(op1.execute(Some(stateDir), Int.MaxValue, stopAfterPasses = 1) == 1)
    // Kill 2: the RESUMED run is killed again after one more pass — this
    // exercises a resumed operation re-saving on top of restored delta
    // dirs (partial dir numbering must continue, not collide).
    val op2 = new ExtractOperation(store("Account" -> deep), catalog, mkSteps)
    op2.loadState(stateDir)
    assert(op2.execute(Some(stateDir), Int.MaxValue, stopAfterPasses = 1) == 1)
    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$stateDir/extract_state.json")), "UTF-8")
    assert(marker.contains("\"partial\""), marker)
    // Final resume runs to convergence.
    val op3 = new ExtractOperation(store("Account" -> deep), catalog, mkSteps)
    op3.loadState(stateDir)
    assert(op3.execute(Some(stateDir), Int.MaxValue) == 0)
    assert(ids(op3.result("Account")) == want,
      "twice-killed, twice-resumed extract must close over the whole chain")
  }

  test("resume into another directory: kill into A, resume from A " +
       "checkpointing into B, kill again, resume from B — byte-identical") {
    val opA = new ExtractOperation(store("Account" -> deep), catalog, deepSteps)
    assert(opA.execute() == 0)
    val want = csvOf(opA, tempDir("graft_x2d_a"))

    val (dirA, dirB) = (tempDir("graft_x2d_stateA"), tempDir("graft_x2d_stateB"))
    val op1 = new ExtractOperation(store("Account" -> deep), catalog, deepSteps)
    assert(op1.execute(Some(dirA), Int.MaxValue, stopAfterPasses = 1) == 1)
    // B must receive every part its manifest names, including the ones
    // restored from A, or the resume from B reads parts B lacks.
    val op2 = new ExtractOperation(store("Account" -> deep), catalog, deepSteps)
    op2.loadState(dirA)
    assert(op2.execute(Some(dirB), Int.MaxValue, stopAfterPasses = 1) == 1)
    val op3 = new ExtractOperation(store("Account" -> deep), catalog, deepSteps)
    op3.loadState(dirB)
    assert(op3.execute(Some(dirB), Int.MaxValue) == 0)
    val got = csvOf(op3, tempDir("graft_x2d_b"))
    assert(got == want, s"resumed-elsewhere CSV differs:\n$got\nvs\n$want")
  }

  test("torn save: a stray part is ignored by resume and deleted by the " +
       "next publish") {
    import spark.implicits._
    val dir = tempDir("graft_xtorn_state")
    val op1 = new ExtractOperation(store("Account" -> deep), catalog, deepSteps)
    assert(op1.execute(Some(dir), Int.MaxValue, stopAfterPasses = 1) == 1)
    // What a save killed before its publish leaves: a complete part the
    // manifest does not name. A resume that read it would extract acct 99.
    val stray = "extract_state-stray.parquet"
    Seq((acct(99), "Stray", acct(6))).toDF("Id", "Name", "ParentId")
      .write.parquet(s"$dir/$stray")
    val op2 = new ExtractOperation(store("Account" -> deep), catalog, deepSteps)
    op2.loadState(dir)
    assert(op2.execute(Some(dir), Int.MaxValue) == 0)
    assert(ids(op2.result("Account")) == (1 to 10).map(acct).toSet)
    assert(!listing(dir).contains(stray), "the next publish must delete the stray part")
    assert(listing(dir) == referencedParts(manifest(dir)) + "extract_state.json")
  }

  test("mid-fixpoint kill preserves recorded row errors: the resumed run " +
       "still fails the step like the uninterrupted run would") {
    import spark.implicits._
    // Contacts of the Caprica tree, where the self-lookup fixpoint's pass
    // 1 discovers a contact (c9) whose AccountId is an OUTSIDE reference
    // under Error behavior — the error is recorded by that pass's
    // storeResult, BEFORE the kill. Without error-buffer persistence the
    // resumed run's passes dedup to zero new rows, never re-detect it,
    // and the extract "succeeds" where the uninterrupted run fails.
    val contacts2 = Seq(
      (cont(1), "Adama", "false", acct(3), null.asInstanceOf[String]),
      (cont(2), "Roslin", "true", acct(3), cont(1)),
      (cont(9), "Zarek", "false", acct(5), cont(1)) // outside acct ref, found via ReportsToId
    ).toDF("Id", "LastName", "IsEmailBounced", "AccountId", "ReportsToId")
    def mkSteps = Seq(
      ExtractStep("Account", ExtractionScope.Query("Name = 'Caprica Cosmetics'"),
        Seq("Id", "Name", "ParentId"),
        selfLookupBehavior = SelfLookupBehavior.TraceNone),
      ExtractStep("Contact", ExtractionScope.Descendents,
        Seq("Id", "LastName", "AccountId", "ReportsToId"),
        outsideBehaviors = Map("AccountId" -> OutsideLookupBehavior.Error)))
    def mkOp() = new ExtractOperation(
      store("Account" -> accounts, "Contact" -> contacts2), catalog, mkSteps)

    val straight = mkOp()
    assert(straight.execute() == -1, "uninterrupted run must fail the step")
    val wantErrs = straight.errors("Contact").toSeq
    assert(wantErrs.exists(_.contains("outside reference")), wantErrs)

    val stateDir = java.nio.file.Files.createTempDirectory("graft_xerr_state").toString
    val killed = mkOp()
    assert(killed.execute(Some(stateDir), Int.MaxValue, stopAfterPasses = 1) == 1)
    assert(killed.errors.get("Contact").exists(_.nonEmpty),
      "the kill must land after the error was recorded")
    val resumed = mkOp()
    resumed.loadState(stateDir)
    assert(resumed.execute(Some(stateDir), Int.MaxValue) == -1,
      "resumed run must fail exactly like the uninterrupted one")
    assert(resumed.errors("Contact").toSeq == wantErrs,
      s"restored errors differ: ${resumed.errors("Contact")} vs $wantErrs")
  }

  test("15-char ids canonicalize to 18 at ingest (T7)") {
    import spark.implicits._
    val accts15 = Seq(("001000000000001", "A", null.asInstanceOf[String]))
      .toDF("Id", "Name", "ParentId")
    val op = new ExtractOperation(store("Account" -> accts15), catalog, Seq(
      ExtractStep("Account", ExtractionScope.AllRecords, Seq("Id", "Name", "ParentId"))))
    assert(op.execute() == 0)
    val out = ids(op.result("Account"))
    assert(out.head.length == 18 && out.head.startsWith("001000000000001"))
  }
}
