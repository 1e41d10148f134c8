package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CLI round trip mirroring the reference's golden test
  * (test/test_org/test_end_to_end.py:31-90): extract a two-object network
  * to CSVs, load it into a fresh target, re-extract from the target, and
  * compare record counts + name multisets.
  */
class CliSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  def writeDescribes(dir: String): Unit = {
    val account =
      """{"name": "Account", "keyPrefix": "001", "fields": [
        |  {"name": "Id", "type": "id", "soapType": "tns:ID", "referenceTo": [], "createable": false, "updateable": false},
        |  {"name": "Name", "type": "string", "soapType": "xsd:string", "referenceTo": [], "createable": true, "updateable": true},
        |  {"name": "ParentId", "type": "reference", "soapType": "tns:ID", "referenceTo": ["Account"], "createable": true, "updateable": true}
        |]}""".stripMargin
    val contact =
      """{"name": "Contact", "keyPrefix": "003", "fields": [
        |  {"name": "Id", "type": "id", "soapType": "tns:ID", "referenceTo": [], "createable": false, "updateable": false},
        |  {"name": "LastName", "type": "string", "soapType": "xsd:string", "referenceTo": [], "createable": true, "updateable": true},
        |  {"name": "IsEmailBounced", "type": "boolean", "soapType": "xsd:boolean", "referenceTo": [], "createable": true, "updateable": true},
        |  {"name": "AccountId", "type": "reference", "soapType": "tns:ID", "referenceTo": ["Account"], "createable": true, "updateable": true},
        |  {"name": "ReportsToId", "type": "reference", "soapType": "tns:ID", "referenceTo": ["Contact"], "createable": true, "updateable": true}
        |]}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/Account.json"), account)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/Contact.json"), contact)
  }

  val opYaml =
    """version: 1
      |operation:
      |  - sobject: Account
      |    field-group: readable
      |    extract:
      |      all: True
      |  - sobject: Contact
      |    field-group: readable
      |    extract:
      |      descendents: True
      |""".stripMargin

  test("CLI extract → load → re-extract round trip preserves the network") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli").toString
    Seq("describes", "src", "extracted", "target", "final").foreach(s =>
      new java.io.File(s"$root/$s").mkdirs())
    writeDescribes(s"$root/describes")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/op.yml"), opYaml)

    // Source "org" data as CSVs.
    Fixture.accounts.write.mode("overwrite").option("header", true)
      .csv(s"$root/src/Account.csv")
    Fixture.contacts.write.mode("overwrite").option("header", true)
      .csv(s"$root/src/Contact.csv")

    // 1. Extract.
    assert(cli.Main.run(Array(s"$root/op.yml",
      "--describe-dir", s"$root/describes",
      "--data-dir", s"$root/src", "--out-dir", s"$root/extracted")) == 0)
    val extractedAccounts = spark.read.option("header", true)
      .csv(s"$root/extracted/Account.csv")
    assert(extractedAccounts.count() == 5)
    assert(extractedAccounts.columns.toSeq == Seq("Id", "Name", "ParentId"))

    // 2. Load into a fresh target store.
    assert(cli.Main.run(Array(s"$root/op.yml", "--load",
      "--describe-dir", s"$root/describes",
      "--data-dir", s"$root/extracted", "--out-dir", s"$root/target")) == 0)
    val results = spark.read.option("header", true)
      .csv(s"$root/target/Account-results.csv")
    assert(results.columns.toSeq == Seq("Original Id", "New Id", "Error"))
    assert(results.where(col("Error").isNotNull).isEmpty)

    // 3. Re-extract from the loaded target and compare.
    assert(cli.Main.run(Array(s"$root/op.yml",
      "--describe-dir", s"$root/describes",
      "--data-dir", s"$root/target", "--out-dir", s"$root/final")) == 0)
    val finalAccounts = spark.read.option("header", true).csv(s"$root/final/Account.csv")
    val finalContacts = spark.read.option("header", true).csv(s"$root/final/Contact.csv")
    assert(finalAccounts.count() == 5)
    assert(finalContacts.count() == 4)
    // Name multisets survive the round trip (ids are re-synthesized).
    def names(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c).collect().map(_.getString(0)).sorted.toSeq
    assert(names(finalAccounts, "Name") == names(Fixture.accounts, "Name"))
    assert(names(finalContacts, "LastName") == names(Fixture.contacts, "LastName"))
    // FK graph shape survives: Caprica still has 2 contacts.
    val caprica = finalAccounts.where(col("Name") === "Caprica Cosmetics")
      .select("Id").collect().head.getString(0)
    assert(finalContacts.where(col("AccountId") === caprica).count() == 2)
    // Self-FK chain: Mid's parent is Root's new id.
    val rootId = finalAccounts.where(col("Name") === "Root").collect().head.getString(0)
    val mid = finalAccounts.where(col("Name") === "Mid").collect().head
    assert(mid.getAs[String]("ParentId") == rootId)
  }

  /** Spark jobs (broadcast builds aside, see [[JobCounter]]) for extract →
    * load → re-extract on the fixture above, measured when every job that
    * moves no data was removed (a schema inference read per input, a
    * SQL-aggregate count per Lineage call, the store's eager cuts; 104
    * before). A returning inference read or a second count per
    * materialization pushes the round trip over it. */
  val RoundTripJobBudget = 76

  test("CLI round trip stays within its Spark job budget") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli_jobs").toString
    Seq("describes", "src").foreach(s => new java.io.File(s"$root/$s").mkdirs())
    writeDescribes(s"$root/describes")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/op.yml"), opYaml)
    Fixture.accounts.write.mode("overwrite").option("header", true)
      .csv(s"$root/src/Account.csv")
    Fixture.contacts.write.mode("overwrite").option("header", true)
      .csv(s"$root/src/Contact.csv")
    def run(load: Boolean, from: String, to: String): Int = cli.Main.run(
      Array(s"$root/op.yml") ++ (if (load) Seq("--load") else Nil) ++ Seq(
        "--describe-dir", s"$root/describes",
        "--data-dir", s"$root/$from", "--out-dir", s"$root/$to"))
    val (rcs, jobs) = JobCounter(spark) {
      Seq(run(load = false, "src", "extracted"), run(load = true, "extracted", "target"),
        run(load = false, "target", "final"))
    }
    assert(rcs == Seq(0, 0, 0))
    assert(spark.read.option("header", true).csv(s"$root/final/Account.csv").count() == 5)
    assert(jobs <= RoundTripJobBudget,
      s"round trip ran $jobs Spark jobs, budget $RoundTripJobBudget")
  }

  test("v2 config: plugin transform + exclude-fields apply through the CLI") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli_v2").toString
    Seq("describes", "src", "extracted").foreach(s => new java.io.File(s"$root/$s").mkdirs())
    writeDescribes(s"$root/describes")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/op.yml"),
      """version: 2
        |plugin-modules:
        |  - graft.testplugins.MultiplyTransform
        |operation:
        |  - sobject: Account
        |    field-group: readable
        |    exclude-fields: [ParentId]
        |    fields:
        |      - field: Name
        |        transforms:
        |          - name: multiply
        |            options: {count: 2}
        |    extract:
        |      all: True
        |""".stripMargin)
    Fixture.accounts.write.mode("overwrite").option("header", true)
      .csv(s"$root/src/Account.csv")
    assert(cli.Main.run(Array(s"$root/op.yml",
      "--describe-dir", s"$root/describes",
      "--data-dir", s"$root/src", "--out-dir", s"$root/extracted")) == 0)
    val out = spark.read.option("header", true).csv(s"$root/extracted/Account.csv")
    // exclude-fields removed ParentId from the readable ∪ fields scope.
    assert(out.columns.toSeq == Seq("Id", "Name"))
    // Plugin transform applied: every Name doubled.
    val names = out.select("Name").collect().map(_.getString(0)).sorted.toSeq
    val expected = Fixture.accounts.select("Name").collect()
      .map(_.getString(0)).map(n => n + n).sorted.toSeq
    assert(names == expected)
  }

  /** A load of the fixture whose Contact batch has one invalid boolean,
    * so it stops after Account; `fixContacts` repairs the batch. */
  def badLoadRoot(prefix: String): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    Seq("describes", "src", "target").foreach(s => new java.io.File(s"$root/$s").mkdirs())
    writeDescribes(s"$root/describes")
    val opYml =
      """version: 1
        |operation:
        |  - sobject: Account
        |    fields: [Name, ParentId]
        |    extract: {all: true}
        |  - sobject: Contact
        |    fields: [LastName, IsEmailBounced, AccountId, ReportsToId]
        |    extract: {all: true}
        |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/op.yml"), opYml)
    Fixture.accounts.write.mode("overwrite").option("header", true)
      .csv(s"$root/src/Account.csv")
    Fixture.contacts
      .withColumn("IsEmailBounced",
        org.apache.spark.sql.functions.when(col("LastName") === "Tigh",
          org.apache.spark.sql.functions.lit("broken")).otherwise(col("IsEmailBounced")))
      .write.mode("overwrite").option("header", true).csv(s"$root/src/Contact.csv")
    root
  }
  def fixContacts(root: String): Unit =
    Fixture.contacts.write.mode("overwrite").option("header", true)
      .csv(s"$root/src/Contact.csv")

  test("failed load persists completed tables; resume finishes without loss") {
    val root = badLoadRoot("graft_resume")

    assert(cli.Main.run(Array(s"$root/op.yml", "--load",
      "--describe-dir", s"$root/describes",
      "--data-dir", s"$root/src", "--out-dir", s"$root/target")) == 1)
    // Completed table survived the failure (persist-on-failure).
    // (Collect eagerly: run 2 will overwrite these files.)
    val run1AccountIds = spark.read.parquet(s"$root/target/Account.parquet")
      .select("Id").collect().map(_.getString(0)).toSet
    assert(run1AccountIds.size == 5)
    assert(new java.io.File(s"$root/target/_state/stage.json").exists())

    // Fix the data and resume with the saved state.
    fixContacts(root)
    assert(cli.Main.run(Array(s"$root/op.yml", "--load",
      "--describe-dir", s"$root/describes",
      "--data-dir", s"$root/src", "--out-dir", s"$root/target",
      "--use-state", s"$root/target/_state")) == 0)

    val accounts2 = spark.read.parquet(s"$root/target/Account.parquet")
    val contacts2 = spark.read.parquet(s"$root/target/Contact.parquet")
    assert(accounts2.count() == 5, "accounts re-inserted or lost on resume")
    assert(contacts2.count() == 4)
    // Run-1 account ids are still the ids contacts point at (map reused).
    assert(accounts2.select("Id").collect().map(_.getString(0)).toSet == run1AccountIds)
    val capricaNew = accounts2.where(col("Name") === "Caprica Cosmetics")
      .collect().head.getAs[String]("Id")
    assert(contacts2.where(col("AccountId") === capricaNew).count() == 2)
  }

  test("a resumed load that fails again keeps its checkpoint; fixing the " +
       "data and resuming again finishes without loss") {
    val root = badLoadRoot("graft_resume2")
    def load(resume: Boolean): Int = cli.Main.run(Array(s"$root/op.yml", "--load",
      "--describe-dir", s"$root/describes",
      "--data-dir", s"$root/src", "--out-dir", s"$root/target") ++
      (if (resume) Seq("--use-state", s"$root/target/_state") else Nil))
    assert(load(resume = false) == 1)
    val run1AccountIds = spark.read.parquet(s"$root/target/Account.parquet")
      .select("Id").collect().map(_.getString(0)).toSet
    assert(run1AccountIds.size == 5)
    // Still bad: the resumed run fails like the first one and saves its
    // state again, over the checkpoint it resumed from.
    assert(load(resume = true) == 1)
    fixContacts(root)
    assert(load(resume = true) == 0)
    val accounts = spark.read.parquet(s"$root/target/Account.parquet")
      .select("Id").collect().map(_.getString(0)).toSeq
    assert(accounts.size == 5 && accounts.toSet == run1AccountIds,
      s"accounts re-inserted or lost across two resumes: $accounts")
    assert(spark.read.parquet(s"$root/target/Contact.parquet").count() == 4)
  }

  /** Runs `args` through the CLI; (exit code, stderr lines naming state). */
  def runCapturingStateErrors(args: String*): (Int, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(buf, true)
    val old = System.err
    System.setErr(ps)
    val rc = try cli.Main.run(args.toArray) finally { System.setErr(old); ps.flush() }
    (rc, buf.toString.linesIterator.filter(_.contains("Cannot read state")).toSeq)
  }

  /** An extract root and a failed-load root, each with a `--use-state`
    * directory that `prepare` fills: both runs must exit 2 with one line
    * starting with the `reason` for the manifest's name. */
  def assertStateRejected(prepare: (String, String) => Unit,
      reason: String => String): Unit = {
    val ext = java.nio.file.Files.createTempDirectory("graft_state_x").toString
    new java.io.File(s"$ext/describes").mkdirs()
    writeDescribes(s"$ext/describes")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$ext/op.yml"), opYaml)
    val loadRoot = badLoadRoot("graft_state_l")
    Seq((ext, "extract_state.json", Seq.empty[String]),
        (loadRoot, "stage.json", Seq("--load"))).foreach { case (root, manifest, flag) =>
      val state = s"$root/state"
      new java.io.File(state).mkdirs()
      prepare(state, manifest)
      val (rc, lines) = runCapturingStateErrors(Seq(s"$root/op.yml") ++ flag ++ Seq(
        "--describe-dir", s"$root/describes", "--data-dir", s"$root/src",
        "--out-dir", s"$root/out", "--use-state", state): _*)
      assert(rc == 2)
      assert(lines.size == 1 &&
        lines.head.startsWith(s"Cannot read state from $state: ${reason(manifest)}"), lines)
    }
  }

  test("--use-state without a manifest exits 2 with one line") {
    assertStateRejected((_, _) => (), m => s"no $m")
  }

  test("--use-state with a garbled or old-layout manifest exits 2 with one line") {
    def write(state: String, m: String, text: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$state/$m"), text)
    val garbled = "{\"completed\": 1, \"rows\": ["
    assertStateRejected((state, m) => write(state, m, garbled),
      m => s"$m is not JSON (Unexpected end-of-input")
    // The layout before the manifest: extract markers listed row dirs by
    // name, load markers named only the stage.
    assertStateRejected((state, m) => write(state, m,
        if (m == "stage.json") """{"stage":"Inserts"}""" else """{"completed":1,"rows":["Account"]}"""),
      m => s"$m is not a layout-2 manifest (state saved by an older version cannot be resumed)")
  }

  test("CLI check-only validates without running") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli2").toString
    new java.io.File(s"$root/describes").mkdirs()
    writeDescribes(s"$root/describes")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/op.yml"), opYaml)
    assert(cli.Main.run(Array(s"$root/op.yml", "--check-only",
      "--describe-dir", s"$root/describes")) == 0)
    // Bad config fails validation.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/bad.yml"),
      opYaml.replace("sobject: Contact", "sobject: Bogus"))
    assert(cli.Main.run(Array(s"$root/bad.yml", "--check-only",
      "--describe-dir", s"$root/describes")) == 1)
  }

  test("verbosity flag: progress lines at normal, silence at quiet, level restored") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli3").toString
    Seq("describes", "src", "out").foreach(s => new java.io.File(s"$root/$s").mkdirs())
    writeDescribes(s"$root/describes")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/op.yml"), opYaml)
    Fixture.accounts.write.mode("overwrite").option("header", true)
      .csv(s"$root/src/Account.csv")
    Fixture.contacts.write.mode("overwrite").option("header", true)
      .csv(s"$root/src/Contact.csv")
    // Invalid choice exits 2 before any work (reference argparse choices).
    assert(cli.Main.run(Array(s"$root/op.yml", "--check-only",
      "--describe-dir", s"$root/describes", "-v", "loud")) == 2)
    def extractCapturingErr(v: Option[String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      val ps = new java.io.PrintStream(buf, true)
      val old = System.err
      System.setErr(ps)
      try assert(cli.Main.run(Array(s"$root/op.yml",
        "--describe-dir", s"$root/describes", "--data-dir", s"$root/src",
        "--out-dir", s"$root/out") ++ v.toSeq.flatMap(Seq("-v", _))) == 0)
      finally { System.setErr(old); ps.flush() }
      buf.toString
    }
    val saved = core.Log.level
    // Default (normal) emits the reference's progress lines…
    assert(extractCapturingErr(None).contains("Account: starting extraction"))
    // …quiet emits none…
    assert(!extractCapturingErr(Some("quiet")).contains("starting extraction"))
    // …and the process-global level is restored after each run().
    assert(core.Log.level == saved)
  }

  test("unquoted api-version YAML float is rejected exactly like the reference") {
    // `api-version: 55.0` unquoted is a YAML FLOAT; the reference's
    // preflight type-checks for str and rejects it
    // (amaxa/__main__.py:64-71) — parity means we reject it too, even
    // though it renders as a well-formed version string.
    val root = java.nio.file.Files.createTempDirectory("graft_cli6").toString
    new java.io.File(s"$root/describes").mkdirs()
    writeDescribes(s"$root/describes")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/op.yml"),
      "version: 2\noptions: {api-version: 55.0}\n" +
        opYaml.linesIterator.drop(1).mkString("\n"))
    assert(cli.Main.run(Array(s"$root/op.yml", "--check-only",
      "--describe-dir", s"$root/describes")) == 1)
  }

  test("api-version preflight rejects malformed versions before config parse") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli4").toString
    new java.io.File(s"$root/describes").mkdirs()
    writeDescribes(s"$root/describes")
    // Reference __main__.py:60-76: the version check runs on the raw
    // document, even though the rest of this config would fail the schema
    // too (v1 has no options key) — the preflight message wins.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/op.yml"),
      "version: 1\noptions: {api-version: '5.50'}\n" + opYaml.linesIterator.drop(1).mkString("\n"))
    assert(cli.Main.run(Array(s"$root/op.yml", "--check-only",
      "--describe-dir", s"$root/describes")) == 1)
    // Valid version string proceeds to (and passes) normal validation.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/op2.yml"),
      "version: 2\noptions: {api-version: '55.0'}\n" + opYaml.linesIterator.drop(1).mkString("\n"))
    assert(cli.Main.run(Array(s"$root/op2.yml", "--check-only",
      "--describe-dir", s"$root/describes")) == 0)
  }

  test("bulk-api batch-size and Serial mode shape the DML sink write") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli5").toString
    Seq("describes", "src", "extracted", "target").foreach(s =>
      new java.io.File(s"$root/$s").mkdirs())
    writeDescribes(s"$root/describes")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/op.yml"), opYaml)
    val v2Yaml =
      """version: 2
        |options: {bulk-api-mode: Serial, bulk-api-batch-size: 2}
        |""".stripMargin + opYaml.linesIterator.drop(1).mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/op2.yml"), v2Yaml)
    Fixture.accounts.write.mode("overwrite").option("header", true)
      .csv(s"$root/src/Account.csv")
    Fixture.contacts.write.mode("overwrite").option("header", true)
      .csv(s"$root/src/Contact.csv")
    assert(cli.Main.run(Array(s"$root/op.yml",
      "--describe-dir", s"$root/describes",
      "--data-dir", s"$root/src", "--out-dir", s"$root/extracted")) == 0)
    assert(cli.Main.run(Array(s"$root/op2.yml", "--load",
      "--describe-dir", s"$root/describes",
      "--data-dir", s"$root/extracted", "--out-dir", s"$root/target")) == 0)
    // Serial → one write task; batch-size 2 → ≤2 rows per file, so the
    // 5 accounts land in ≥3 parquet files (each file ≈ one batch).
    val files = new java.io.File(s"$root/target/Account.parquet")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files >= 3, s"expected >=3 batch files, got $files")
    // And the load itself is still correct.
    val loaded = spark.read.parquet(s"$root/target/Account.parquet")
    assert(loaded.count() == 5)
  }
}
