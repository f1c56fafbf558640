package graft

import graft.etl._
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end ETL tests over the FIXTURES.md corpus: the three CSV
  * contracts incl. adversarial rows (bad RUT, unknown carrier, dup
  * natural keys, empty payloads), asserting Silver table states and
  * reject counts (SURVEY §5.4). */
class EtlSpec extends SparkSpec {

  private def mkTmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeCsv(dir: String, name: String, content: String): String = {
    val p = Paths.get(dir, name)
    Files.writeString(p, content)
    p.toString
  }

  // JSON payloads, CSV-quoted (RFC4180 doubled quotes)
  private def q(json: String): String = "\"" + json.replace("\"", "\"\"") + "\""

  private val hojaVidaJson = q(
    """{"certificado":{"folio":"F123","fechaEmision":"24-06-2025, 09:21","codigoVerificacion":"CV9"},
      |"persona":{"comuna":"SANTIAGO","domicilio":"CALLE 1 #23",
      |"restriccionesLicencia":[{"fechaAnotacion":"01-02-2020","bloqueRestriccionLicencia":"LENTES"}],
      |"duracionesRestringidas":[{"fechaAnotacion":"03/04/2021","bloqueDuracionRestringida":"2 ANOS"}],
      |"infraccionesRegistradas":[{"procesoNumero":"P-1","tribunal":"JPL STGO","fechaDenuncia":"2019-05-06","infraccion":"EXCESO VELOCIDAD","resolucion":"MULTA"}]}}"""
      .stripMargin.replace("\n", ""))
  private val licFrontalJson = q(
    """{"clase":["A2","B"],"municipalidad":"PROVIDENCIA","fecha_de_control":"10-01-2024","fecha_ultimo_control":"10-01-2030"}""")
  private val licReversoJson = q("""{"codigo":"XYZ-77"}""")

  private val empresasCsv =
    """carrier_bp;carrier_name;carrier_tin;carrier_type
      |1111111;EMPRESA  UNO   SPA;"11.111.111-1";Spot
      |2222222;EMPRESA 2;"22222222-2";Licitada
      |3333333;EMPRESA 3;"22222222-9";Spot
      |;EMPRESA 4;"44444444-4";Spot
      |1111111;EMPRESA UNO RENOMBRADA;"11111111-1";Spot
      |""".stripMargin

  test("empresa pipeline: cleanse, validate, get-or-create, last-wins upsert") {
    val dir = mkTmp("etl-emp")
    val store = new SilverStore(spark, mkTmp("silver-emp"))
    val path = writeCsv(dir, "empresas_20251001.csv", empresasCsv)

    val r = EtlRunner.processFile(store, path).get
    assert(r.rowCount == 5 && r.processed == 3 && r.errors == 2)

    val emp = store.read("empresa", SilverSchemas.empresa)
      .orderBy("carrier_bp").collect()
    assert(emp.length == 2)
    val e1 = emp(0)
    assert(e1.getAs[String]("carrier_bp") == "1111111")
    assert(e1.getAs[String]("carrier_name") == "EMPRESA UNO RENOMBRADA") // last wins
    assert(e1.getAs[String]("carrier_rut") == "11111111-1")              // canonical
    assert(emp(1).getAs[String]("carrier_name") == "EMPRESA 2")

    val tipos = store.read("tipo_empresa").orderBy("carrier_type_id").collect()
    assert(tipos.map(_.getAs[String]("carrier_type")).toSeq == Seq("Licitada", "Spot"))

    val rejects = r.rejects.collect()
    assert(rejects.exists(_.getAs[String]("error_reason").contains("RUT inválido")))
    assert(rejects.exists(_.getAs[String]("error_reason") == "carrier_bp vacío"))

    // replay: idempotent upsert (H1), same ids, no new rows
    val ids1 = store.read("empresa").select("carrier_bp", "carrier_id")
      .orderBy("carrier_bp").collect().map(_.toSeq).toSeq
    EtlRunner.processFile(store, path)
    val ids2 = store.read("empresa").select("carrier_bp", "carrier_id")
      .orderBy("carrier_bp").collect().map(_.toSeq).toSeq
    assert(ids1 == ids2)
  }

  test("conductor pipeline: lookup join, dims, children explode, historized append") {
    val dir = mkTmp("etl-con")
    val store = new SilverStore(spark, mkTmp("silver-con"))
    writeCsv(dir, "empresas_1.csv", empresasCsv)

    val condCsv =
      s"""driver_name;national_id;birth_date;phone_number;email;carrier_bp;driver_role;hoja_de_vida_data;licencia_frontal_data;licencia_reverso_data
         |JUAN  PEREZ;12345678-5;24-06-1990;+569111;j@x.cl;1111111;Titular;$hojaVidaJson;$licFrontalJson;$licReversoJson
         |MAL RUT;12345678-9;01-01-1990;;;1111111;Titular;;;
         |SIN EMPRESA;11111111-1;01-01-1990;;;9999999;Titular;;;
         |SIN ROL;22222222-2;01-01-1990;;;1111111;;;;
         |JUAN ACTUALIZADO;12.345.678-5;25/06/1990;+569222;;1111111;Suplente;;;
         |""".stripMargin
    writeCsv(dir, "conductores_1.csv", condCsv)

    val results = EtlRunner.processDirectory(store, dir)
    val r = results("conductores_1.csv")
    assert(r.rowCount == 5 && r.processed == 2 && r.errors == 3, s"got $r")

    val cond = store.read("conductor", SilverSchemas.conductor).collect()
    assert(cond.length == 1)
    val c = cond(0)
    assert(c.getAs[String]("conductor_rut") == "12345678-5")
    assert(c.getAs[String]("conductor_nombre") == "JUAN ACTUALIZADO") // last wins
    assert(c.getAs[java.sql.Date]("conductor_fecha_nacimiento") ==
      java.sql.Date.valueOf("1990-06-25"))
    assert(c.getAs[String]("conductor_email") == null)                // empty -> null

    val roles = store.read("conductor_rol").collect()
      .map(_.getAs[String]("conductor_rol")).toSet
    assert(roles == Set("Titular", "Suplente"))

    // children appended for BOTH accepted rows of the same rut that
    // carry payloads — here only row 1 has payloads
    val hv = store.read("hoja_vida", SilverSchemas.hojaVida).collect()
    assert(hv.length == 1)
    assert(hv(0).getAs[String]("folio") == "F123")
    assert(hv(0).getAs[java.sql.Date]("fecha_emision") ==
      java.sql.Date.valueOf("2025-06-24"))
    assert(hv(0).getAs[String]("comuna") == "SANTIAGO")
    assert(hv(0).getAs[Int]("conductor_id") == c.getAs[Int]("conductor_id"))

    val rest = store.read("hoja_vida_restriccion", SilverSchemas.hojaVidaRestriccion)
      .orderBy("hoja_vida_restriccion_id").collect()
    assert(rest.length == 2) // restriccion + duracion, same table (G1+G2)
    assert(rest(0).getAs[String]("restriccion") == "LENTES")
    assert(rest(0).getAs[java.sql.Date]("fecha_anotacion") ==
      java.sql.Date.valueOf("2020-02-01"))
    assert(rest(1).getAs[String]("restriccion") == "2 ANOS")
    assert(rest(1).getAs[java.sql.Date]("fecha_anotacion") ==
      java.sql.Date.valueOf("2021-04-03"))

    val infr = store.read("hoja_vida_infraccion", SilverSchemas.hojaVidaInfraccion).collect()
    assert(infr.length == 1 && infr(0).getAs[String]("proceso") == "P-1")
    assert(infr(0).getAs[java.sql.Date]("fecha_denuncia") ==
      java.sql.Date.valueOf("2019-05-06"))

    val lic = store.read("licencia", SilverSchemas.licencia).collect()
    assert(lic.length == 1 && lic(0).getAs[String]("codigo") == "XYZ-77")
    assert(lic(0).getAs[java.sql.Date]("fecha_de_control") ==
      java.sql.Date.valueOf("2024-01-10"))

    val clases = store.read("clase_licencia").collect()
      .map(_.getAs[String]("clase_licencia")).toSet
    assert(clases == Set("A2", "B"))
    val bridge = store.read("licencia_clase", SilverSchemas.licenciaClase).collect()
    assert(bridge.length == 2)

    // replay duplicates historized children (faithful, SURVEY §2 I)
    EtlRunner.processFile(store, s"$dir/conductores_1.csv")
    assert(store.read("hoja_vida").count() == 2)
    assert(store.read("conductor").count() == 1) // entity still deduped
  }

  test("vehiculo pipeline: typed projection, 4 dims, carrier_id not updated, children") {
    val dir = mkTmp("etl-veh")
    val store = new SilverStore(spark, mkTmp("silver-veh"))
    writeCsv(dir, "empresas_1.csv", empresasCsv)

    val pcJson = q("""{"municipalidad":"MAIPU","fecha_emision":"01-03-2025","fecha_vencimiento":"31-03-2026"}""")
    val soapJson = q("""{"numero_poliza":987654321,"institucion_aseguradora":"ASEG 1","fecha_vencimiento_poliza":"31-03-2026"}""")
    val cavJson = q("""{"folio":"CAV-1","codigo_verificacion":"K2","fecha_emision":"15-02-2025","limitaciones_al_dominio":"NINGUNA","datos_propietario_actual":{"nombre":"EMPRESA 1","rut":"11111111-1","fecha_adquisicion":"10-10-2020"}}""")

    val header = "registration_plate;carrier_bp;year_of_manufacture;gps;engine_number;chassis_number;vin;odometer_km;cortina;instalacion_cortina;vehicle_type;vehicle_designation;parrilla;peso;largo;ancho;alto;mop_clasification;nominal_pallet;vehicle_make;vehicle_model;fecha_revision_tecnica;fecha_vencimiento_revision_tecnica;emissions_crt_status;identification_status;visual_status;lights_status;alignment_status;brakes_status;clearances_status;emissions_status;opacity_status;steering_angle_status;noise_status;suspension_status;permiso_circulacion_data;certificado_anotaciones_vigentes_data;soap_data"
    val v1 = s"ABCD12;1111111;2020;si;ENG1;CHS1;VIN1;123456;Lona;05-07-2021;Camion;Carga;true;12000.5;10.2;2.5;3.1;MOP-A;20;VOLVO;FH 500;01-06-2025;01-06-2026;Aprobada;Aprobada;Rechazada;Aprobada;No Aplica;Aprobada;Aprobada;Aprobada;Aprobada;Aprobada;Rechazada;Aprobada;$pcJson;$cavJson;$soapJson"
    val v2 = "NOCARRIER1;9999999;2019;no;;;;;;;Camion;Carga;false;;;;;;;VOLVO;FH 500;;;;;;;;;;;;;;;;;"
    val v3 = ";1111111;2019;no;;;;;;;Camion;Carga;false;;;;;;;VOLVO;FH 500;;;;;;;;;;;;;;;;;"
    // same plate, different carrier: carrier_id must NOT change (H3)
    val v4 = s"ABCD12;2222222;2021;verdadero;ENG2;CHS1;VIN1;99;Lona;05-07-2021;Camion;Carga;si;12000.5;10.2;2.5;3.1;MOP-A;20;VOLVO;FH 500;01-06-2025;01-06-2026;Aprobada;Aprobada;Rechazada;Aprobada;No Aplica;Aprobada;Aprobada;Aprobada;Aprobada;Aprobada;Rechazada;Aprobada;;;"
    writeCsv(dir, "vehiculos_1.csv",
      (header +: Seq(v1, v2, v3, v4)).mkString("", "\n", "\n"))

    val results = EtlRunner.processDirectory(store, dir)
    val r = results("vehiculos_1.csv")
    assert(r.rowCount == 4 && r.processed == 2 && r.errors == 2, s"got $r")

    val veh = store.read("vehiculo", SilverSchemas.vehiculo).collect()
    assert(veh.length == 1)
    val v = veh(0)
    assert(v.getAs[String]("registration_plate") == "ABCD12")
    assert(v.getAs[Int]("year_of_manufacture") == 2021)   // updated by v4
    assert(v.getAs[Boolean]("gps"))                        // "verdadero"
    assert(v.getAs[String]("engine_number") == "ENG2")
    assert(v.getAs[Double]("peso") == 12000.5)
    assert(v.getAs[java.sql.Date]("instalacion_cortina") ==
      java.sql.Date.valueOf("2021-07-05"))
    // carrier_id: from v1's empresa 1111111, NOT updated by v4
    val emp1 = store.read("empresa").filter(col("carrier_bp") === "1111111")
      .select("carrier_id").collect()(0).getInt(0)
    assert(v.getAs[Int]("carrier_id") == emp1)

    Seq("tipo_vehiculo" -> "Camion", "tipo_designacion" -> "Carga",
      "vehiculo_marca" -> "VOLVO").foreach { case (t, expect) =>
      val rows = store.read(t).collect()
      assert(rows.length == 1, s"$t: ${rows.length}")
    }
    val modelo = store.read("vehiculo_modelo", SilverSchemas.vehiculoModelo).collect()
    assert(modelo.length == 1 && modelo(0).getAs[String]("vehicle_model") == "FH 500")

    // revision_tecnica appended per accepted row (2 rows: v1, v4)
    val rt = store.read("revision_tecnica", SilverSchemas.revisionTecnica)
      .orderBy("revision_tecnica_id").collect()
    assert(rt.length == 2)
    assert(rt(0).getAs[Boolean]("emissions_crt_status"))
    assert(!rt(0).getAs[Boolean]("visual_status"))          // Rechazada
    assert(!rt(0).getAs[Boolean]("alignment_status"))       // No Aplica

    val so = store.read("soap", SilverSchemas.soap).collect()
    assert(so.length == 1 && so(0).getAs[Long]("numero_poliza") == 987654321L)
    val cav = store.read("certificado_anotaciones_vigentes", SilverSchemas.cav).collect()
    assert(cav.length == 1)
    assert(cav(0).getAs[String]("nombre_propietario") == "EMPRESA 1")
    assert(cav(0).getAs[java.sql.Date]("fecha_adquisicion") ==
      java.sql.Date.valueOf("2020-10-10"))
    val pc = store.read("permiso_circulacion", SilverSchemas.permisoCirculacion).collect()
    assert(pc.length == 1 && pc(0).getAs[String]("municipalidad") == "MAIPU")
  }

  test("vehiculo jsCoercion flag replays the reference's parseInt/parseFloat quirks") {
    val dir = mkTmp("etl-jsc")
    writeCsv(dir, "empresas_1.csv", empresasCsv)
    // year "2020modelo" -> prefix-parse 2020; odometer "0" -> `|| null`
    // folds to null; peso "12000,5" -> JS parseFloat stops at the comma
    val header = "registration_plate;carrier_bp;year_of_manufacture;gps;engine_number;chassis_number;vin;odometer_km;cortina;instalacion_cortina;vehicle_type;vehicle_designation;parrilla;peso;largo;ancho;alto;mop_clasification;nominal_pallet;vehicle_make;vehicle_model;fecha_revision_tecnica;fecha_vencimiento_revision_tecnica;emissions_crt_status;identification_status;visual_status;lights_status;alignment_status;brakes_status;clearances_status;emissions_status;opacity_status;steering_angle_status;noise_status;suspension_status;permiso_circulacion_data;certificado_anotaciones_vigentes_data;soap_data"
    val row = "QRST34;1111111;2020modelo;si;E;C;V;0;;;Camion;Carga;no;12000,5;;;;;;VOLVO;FH 500;;;;;;;;;;;;;;;;;"
    val csv = writeCsv(dir, "vehiculos_1.csv", s"$header\n$row\n")

    for (js <- Seq(false, true)) {
      val store = new SilverStore(spark, mkTmp(s"silver-jsc-$js"))
      EtlRunner.processFile(store, s"$dir/empresas_1.csv")
      VehiculoPipeline.run(store,
        BronzeReader.read(spark, csv, BronzeSchemas.vehiculo), jsCoercion = js)
      val v = store.read("vehiculo", SilverSchemas.vehiculo).collect()(0)
      if (js) {
        assert(v.getAs[Integer]("year_of_manufacture") == 2020) // prefix parse
        assert(v.getAs[Integer]("odometer_km") == null)         // 0 || null
        assert(v.getAs[java.lang.Double]("peso") == 12000.0)    // stops at ','
      } else {
        assert(v.getAs[Integer]("year_of_manufacture") == null) // strict cast
        assert(v.getAs[Integer]("odometer_km") == 0)            // 0 kept
        assert(v.getAs[java.lang.Double]("peso") == null)
      }
    }
  }

  test("bucketed merge rewrites only buckets containing changed keys") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val store = new SilverStore(spark, mkTmp("silver-bmerge"))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("k", StringType),
      StructField("v", StringType),
      StructField("date_created", TimestampType),
      StructField("date_updated", TimestampType)))
    def src(rows: (String, String)*) = rows.toDF("k", "v")

    // seed 120 keys so most of the 32 buckets are populated
    MergeOps.mergeBucketed(store, "t", schema,
      src((1 to 120).map(i => s"key$i" -> s"v$i"): _*),
      Seq("k"), "id", Seq("v"))
    assert(store.isBucketed("t"))
    assert(store.read("t", schema).count() === 120)
    val ids0 = store.read("t", schema).select("k", "id").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(ids0.values.toSeq.sorted === (1 to 120))

    def fileState(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(store.root, "t"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.lastModified, f.length)).toMap
    }
    val before = fileState()

    // touch ONE existing key + insert one new key
    MergeOps.mergeBucketed(store, "t", schema,
      src("key7" -> "v7-updated", "brandnew" -> "nv"),
      Seq("k"), "id", Seq("v"))
    val after = fileState()

    // the two source keys land in <= 2 buckets; every other bucket's
    // files must be untouched — same paths, same mtime, same size
    val changed = (before.keySet ++ after.keySet)
      .filter(p => before.get(p) != after.get(p))
    val touchedDirs = changed.map(p =>
      p.split('/').find(_.startsWith("_bucket=")).getOrElse(p))
    assert(touchedDirs.size <= 2, s"too many buckets rewritten: $touchedDirs")
    val untouched = before.keySet.filter(p =>
      !touchedDirs.exists(p.contains)) // paths outside touched buckets
    assert(untouched.nonEmpty, "test needs untouched buckets to prove pruning")
    untouched.foreach(p => assert(before(p) === after(p), s"$p was rewritten"))

    // content equals a full-table merge: update applied, ids stable,
    // new key got max+1
    val rows = store.read("t", schema).select("k", "v", "id").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(rows.size === 121)
    assert(rows("key7")._1 === "v7-updated")
    assert(rows("key7")._2 === ids0("key7"), "surrogate id must not change")
    assert(rows("brandnew") === ("nv", 121), "insert takes global max+1")
    (1 to 120).filter(_ != 7).foreach(i =>
      assert(rows(s"key$i") === (s"v$i", ids0(s"key$i"))))
  }

  test("bucketed merge migrates a flat-layout table and pins its bucket count") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val store = new SilverStore(spark, mkTmp("silver-bmig"))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("k", StringType),
      StructField("v", StringType)))
    def src(rows: (String, String)*) = rows.toDF("k", "v")

    // seed the PREVIOUS release's layout: flat snapshot, no _bucket dirs
    val flat = MergeOps.merge(store.read("t", schema),
      src("a" -> "1", "b" -> "2"), Seq("k"), "id", 0, Seq("v"))
    store.overwrite("t", flat)
    assert(!store.isBucketed("t"))
    val ids0 = store.read("t", schema).select("k", "id").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap

    // first bucketed merge migrates: no duplicate keys, ids preserved
    MergeOps.mergeBucketed(store, "t", schema, src("b" -> "2x", "c" -> "3"),
      Seq("k"), "id", Seq("v"))
    assert(store.isBucketed("t"))
    val rows = store.read("t", schema).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[String]("v"), r.getAs[Int]("id")))
    assert(rows.length === 3, s"migration must not duplicate keys: ${rows.toSeq}")
    val byK = rows.map(r => r._1 -> r).toMap
    assert(byK("a") === (("a", "1", ids0("a"))))
    assert(byK("b")._2 === "2x" && byK("b")._3 === ids0("b"))

    // a later caller passing a DIFFERENT nBuckets must not shear the
    // stored mod-32 layout — the sidecar's count wins
    MergeOps.mergeBucketed(store, "t", schema, src("b" -> "2y"),
      Seq("k"), "id", Seq("v"), nBuckets = 7)
    val after = store.read("t", schema).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[String]("v"), r.getAs[Int]("id")))
    assert(after.length === 3, s"mismatched nBuckets duplicated keys: ${after.toSeq}")
    assert(after.find(_._1 == "b").get._2 === "2y")
  }

  test("bucketed merge after a simulated crash: id gaps, never collisions") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val store = new SilverStore(spark, mkTmp("silver-bcrash"))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("k", StringType),
      StructField("v", StringType)))
    def src(rows: (String, String)*) = rows.toDF("k", "v")

    MergeOps.mergeBucketed(store, "t", schema,
      src((1 to 10).map(i => s"k$i" -> s"v$i"): _*), Seq("k"), "id", Seq("v"))

    // crash contract: meta is durable BEFORE the bucket commit, so the
    // worst post-crash state is a mark HIGHER than any stored id —
    // simulate it and prove the next merge only leaves a gap
    store.writeMeta("t", 50, 32)
    MergeOps.mergeBucketed(store, "t", schema,
      src("fresh" -> "x"), Seq("k"), "id", Seq("v"))
    val ids = store.read("t", schema).select("id").collect().map(_.getInt(0))
    assert(ids.length === ids.distinct.length, s"id collision: ${ids.sorted.toSeq}")
    assert(ids.contains(51), "insert must take ids above the durable mark")

    // corrupt sidecar: the true bucket count is unknowable, so the
    // merge must take the full-rewrite recovery path (re-establishing
    // layout + sidecar) rather than prune with a guessed count — even
    // when the caller passes a DIFFERENT nBuckets than the layout had
    val metaFile = new java.io.File(store.root + "/t/.graft_meta")
    java.nio.file.Files.writeString(metaFile.toPath, "garbage")
    MergeOps.mergeBucketed(store, "t", schema,
      src("fresh2" -> "y"), Seq("k"), "id", Seq("v"), nBuckets = 7)
    val ids2 = store.read("t", schema).select("id").collect().map(_.getInt(0))
    assert(ids2.length === 12, s"recovery must not duplicate keys: ${ids2.length}")
    assert(ids2.length === ids2.distinct.length)
    assert(ids2.max === 52, "recovery max-scan resumes right after the true max")
    assert(store.readMeta("t") === Some((52, 7)), "sidecar re-established")
  }

  test("JDBC sink: staging + MERGE upsert round-trips through Derby") {
    import spark.implicits._
    val db = mkTmp("derby") + "/db"
    val sink = new JdbcSink(spark, s"jdbc:derby:$db;create=true")

    sink.upsert("empresa_jdbc",
      Seq(("1111111", "EMPRESA UNO", "11111111-1"),
        ("2222222", "EMPRESA DOS", "22222222-2"))
        .toDF("carrier_bp", "carrier_name", "carrier_rut"),
      Seq("carrier_bp"), "carrier_id")
    def snapshot() = sink.read("empresa_jdbc").collect()
      .map(r => r.getAs[String]("carrier_bp") ->
        (r.getAs[Int]("carrier_id"), r.getAs[String]("carrier_name"))).toMap
    val ids0 = snapshot().map { case (k, (id, _)) => k -> id }
    assert(ids0.values.toSeq.sorted === Seq(1, 2))

    // second batch: update one, insert one — existing ids must be stable
    sink.upsert("empresa_jdbc",
      Seq(("1111111", "EMPRESA UNO RENOMBRADA", "11111111-1"),
        ("3333333", "EMPRESA TRES", "33333333-3"))
        .toDF("carrier_bp", "carrier_name", "carrier_rut"),
      Seq("carrier_bp"), "carrier_id")

    val rows = snapshot()
    assert(rows.size === 3)
    assert(rows("1111111")._2 === "EMPRESA UNO RENOMBRADA")
    assert(rows("3333333")._2 === "EMPRESA TRES")
    assert(rows("1111111")._1 === ids0("1111111"), "update must not change id")
    assert(rows("2222222")._1 === ids0("2222222"))
    assert(rows("3333333")._1 > 2, "insert takes a fresh identity id")
  }

  test("JDBC sink handles a multi-partition bulk batch with update overlap") {
    import spark.implicits._
    val db = mkTmp("derby-bulk") + "/db"
    val sink = new JdbcSink(spark, s"jdbc:derby:$db;create=true",
      numPartitions = 4, batchSize = 500)
    def batch(n: Int, tag: String) = (1 to n).toDF("i")
      .select(concat(lit("bp"), col("i")).as("carrier_bp"),
        concat(lit(tag), col("i")).as("carrier_name"))
    sink.upsert("bulk_jdbc", batch(5000, "v1"), Seq("carrier_bp"), "id")
    assert(sink.read("bulk_jdbc").count() === 5000)

    // second batch updates bp2501..bp5000 and inserts bp5001..bp7500
    val b2 = (2501 to 7500).toDF("i")
      .select(concat(lit("bp"), col("i")).as("carrier_bp"),
        concat(lit("v2"), col("i")).as("carrier_name"))
    sink.upsert("bulk_jdbc", b2, Seq("carrier_bp"), "id")
    val out = sink.read("bulk_jdbc")
    assert(out.count() === 7500)
    assert(out.filter(col("carrier_name").startsWith("v2")).count() === 5000)
    assert(out.filter(col("carrier_name").startsWith("v1")).count() === 2500)
  }

  test("JDBC sink resolves intra-batch duplicate keys last-wins") {
    import spark.implicits._
    val db = mkTmp("derby-dup") + "/db"
    val sink = new JdbcSink(spark, s"jdbc:derby:$db;create=true")
    // duplicate natural keys within one batch: the reference's
    // row-by-row ON CONFLICT makes the LAST file row win — `_row_id`
    // carries file order into the set-based MERGE. The double column
    // also exercises the DOUBLE PRECISION DDL spelling.
    sink.upsert("dup_jdbc",
      Seq(("bp1", "first", 1.5, 1L), ("bp2", "only", 2.5, 2L),
        ("bp1", "last", 9.5, 3L))
        .toDF("carrier_bp", "carrier_name", "score", "_row_id"),
      Seq("carrier_bp"), "id")
    val rows = sink.read("dup_jdbc").collect()
      .map(r => r.getAs[String]("carrier_bp") ->
        (r.getAs[String]("carrier_name"), r.getAs[Double]("score"))).toMap
    assert(rows.size === 2)
    assert(rows("bp1") === (("last", 9.5)))
    assert(rows("bp2") === (("only", 2.5)))

    // without _row_id the sink still dedups (batch-ordinal fallback)
    sink.upsert("dup2_jdbc",
      Seq(("x", "a"), ("x", "b")).toDF("k", "v"), Seq("k"), "id")
    assert(sink.read("dup2_jdbc").count() === 1)
  }

  test("bucketed merge repairs a crash-orphaned aside bucket dir") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val store = new SilverStore(spark, mkTmp("silver-aside"))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("k", StringType),
      StructField("v", StringType)))
    def src(rows: (String, String)*) = rows.toDF("k", "v")
    MergeOps.mergeBucketed(store, "t", schema,
      src((1 to 40).map(i => s"k$i" -> s"v$i"): _*), Seq("k"), "id", Seq("v"))
    val ids0 = store.read("t", schema).select("k", "id").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap

    // simulate a crash between Commit.swap's aside-rename and its
    // rename-in: the live bucket dir exists only as its aside
    val tdir = new java.io.File(store.root, "t")
    val bucket = tdir.listFiles().find(_.getName.startsWith("_bucket=")).get
    val aside = new java.io.File(tdir, "." + bucket.getName + ".aside")
    assert(bucket.renameTo(aside))
    val visible = store.read("t", schema).count()
    assert(visible < 40, "orphaned bucket rows must be invisible pre-repair")

    // the next merge recovers FIRST, so the orphaned keys are seen again:
    // full row count restored, updated key keeps its surrogate id,
    // nothing re-inserted under a fresh id
    MergeOps.mergeBucketed(store, "t", schema, src("k3" -> "v3x"),
      Seq("k"), "id", Seq("v"))
    val rows = store.read("t", schema).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[String]("v"), r.getAs[Int]("id")))
    assert(rows.length === 40, s"repair must restore all rows: ${rows.length}")
    assert(rows.map(_._3).distinct.length === 40, "no duplicate surrogate ids")
    assert(rows.find(_._1 == "k3").get._2 === "v3x")
    rows.foreach { case (k, _, id) => assert(id === ids0(k), s"id churn for $k") }

    // completed-swap shape: aside left behind NEXT TO a live bucket
    // (crash after rename-in, before aside delete) is just dropped
    val b2 = tdir.listFiles().find(_.getName.startsWith("_bucket=")).get
    val stray = new java.io.File(tdir, "." + b2.getName + ".aside")
    assert(stray.mkdir())
    store.recover("t")
    assert(!stray.exists())
    assert(store.read("t", schema).count() === 40)
  }

  test("suggestBuckets balances bucket size against rewrite amplification") {
    import MergeOps.suggestBuckets
    // catalog-sized table: the floor wins (a 10 MB table must not
    // shatter into hundreds of files to chase a rewrite fraction)
    assert(suggestBuckets(10L << 20, typicalBatchKeys = 20) === 32)
    // 1 TB at ~192 MB/bucket needs ~5461 -> next pow2 (rewrite
    // pressure at 20-key batches asks for only 400)
    assert(suggestBuckets(1L << 40, typicalBatchKeys = 20) === 8192)
    // 1000-key batches at <=5% rewrite demand 20000 buckets once the
    // table is big enough to afford them
    assert(suggestBuckets(1L << 40, typicalBatchKeys = 1000) === 32768)
    // ...but a 1 GB table caps at 4 MB buckets (256) first
    assert(suggestBuckets(1L << 30, typicalBatchKeys = 1000) === 256)
    // always a power of two, monotone in volume
    val ns = Seq(1L << 28, 1L << 32, 1L << 36, 1L << 40, 1L << 44)
      .map(suggestBuckets(_, typicalBatchKeys = 0))
    assert(ns.forall(n => Integer.bitCount(n) == 1))
    assert(ns === ns.sorted)
  }

  test("stale staged copies under .stage are swept by the writer path, not by readers") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val root = mkTmp("silver-sweep")
    val store = new SilverStore(spark, root)
    val stale = new java.io.File(root, s"${Commit.StageDir}/t-stale")
    val fresh = new java.io.File(root, s"${Commit.StageDir}/t-fresh")
    assert(stale.mkdirs() && fresh.mkdirs())
    Files.writeString(Paths.get(stale.getPath, "part-0.parquet"), "x")
    assert(stale.setLastModified(
      System.currentTimeMillis() - Commit.StaleStageMs - 3600L * 1000))

    // constructing or reading must NOT sweep: a read-only store reaping
    // a paused writer's staging would turn that writer's commit into
    // data loss
    new SilverStore(spark, root)
    assert(stale.exists(), "a reader must never reap staged data")

    // the single-writer merge path does sweep stale entries
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("k", StringType),
      StructField("v", StringType)))
    MergeOps.mergeBucketed(store, "t", schema,
      Seq("a" -> "1").toDF("k", "v"), Seq("k"), "id", Seq("v"))
    assert(!stale.exists(), "entry older than the horizon must be swept")
    assert(fresh.exists(), "a fresh entry may belong to an in-flight writer")
  }

  test("typed Silver API: Dataset[T] views over the entity tables") {
    val dir = mkTmp("typed")
    val store = new SilverStore(spark, mkTmp("typed-silver"))
    EtlRunner.processFile(store,
      writeCsv(dir, "empresas_t.csv", empresasCsv))
    val ds = SilverApi.empresas(store)
    // fixture: rows 3 (bad RUT) and 4 (empty bp) are rejects; row 5
    // last-wins-overwrites row 1 -> two Silver carriers
    val byBp = ds.collect().map(e => e.carrier_bp.get -> e).toMap
    assert(byBp.size === 2)
    assert(byBp("1111111").carrier_name === Some("EMPRESA UNO RENOMBRADA"))
    assert(byBp("1111111").carrier_rut === Some("11111111-1"))
    assert(byBp("1111111").carrier_type_id.isDefined)
    // typed filter/map compile and run against the encoder
    assert(ds.filter(_.carrier_rut.isDefined).count() === 2)
  }

  test("rejects persist to an append-only quarantine table with reasons") {
    val dir = mkTmp("quar")
    val store = new SilverStore(spark, mkTmp("quar-silver"))
    EtlRunner.processFile(store, writeCsv(dir, "empresas_q.csv", empresasCsv))
    val q = store.read("quarantine_empresa")
    assert(q.count() === 2)
    val reasons = q.select("error_reason").collect().map(_.getString(0)).toSet
    assert(reasons.exists(_.contains("RUT inválido")))
    assert(reasons.contains("carrier_bp vacío"))
    // provenance travels with the reject
    assert(q.columns.contains("_source_file") && q.columns.contains("_row_id"))

    // a second bad file APPENDS (historized error log, never overwritten)
    EtlRunner.processFile(store, writeCsv(dir, "empresas_q2.csv",
      "carrier_bp;carrier_name;carrier_tin;carrier_type\n;X;\"11111111-1\";Spot\n"))
    assert(store.read("quarantine_empresa").count() === 3)
  }

  test("replay: upserts idempotent, historized children duplicate (faithful)") {
    val dir = mkTmp("replay")
    val store = new SilverStore(spark, mkTmp("replay-silver"))
    val emp = writeCsv(dir, "empresas_r.csv", empresasCsv)
    val cond = writeCsv(dir, "conductores_r.csv",
      s"""driver_name;national_id;birth_date;phone_number;email;carrier_bp;driver_role;hoja_de_vida_data;licencia_frontal_data;licencia_reverso_data
         |JUAN PEREZ;11111111-1;01-02-1990;+569;j@x.cl;1111111;Principal;$hojaVidaJson;$licFrontalJson;$licReversoJson
         |""".stripMargin)
    EtlRunner.processFile(store, emp)
    EtlRunner.processFile(store, cond)
    val conductores1 = store.read("conductor").count()
    val hojas1 = store.read("hoja_vida").count()

    // replay BOTH files (the reference's at-least-once redelivery)
    EtlRunner.processFile(store, emp)
    EtlRunner.processFile(store, cond)
    assert(store.read("conductor").count() === conductores1,
      "conductor upsert must be idempotent on replay")
    assert(store.read("empresa").count() === 2)
    assert(store.read("hoja_vida").count() === 2 * hojas1,
      "historized children duplicate on replay — faithful to the reference " +
        "(SURVEY §2 I); dedupe by (source_file, row) is the documented fix")
  }

  test("partitioned append prunes at the scan; compaction merges small files") {
    import org.apache.spark.sql.functions._
    val store = new SilverStore(spark, mkTmp("part-silver"))
    val spark2 = spark
    import spark2.implicits._

    // 6 per-file micro-batches across 2 load dates -> 2 partition dirs
    (1 to 6).foreach { i =>
      val d = if (i <= 3) "2026-01-01" else "2026-01-02"
      store.appendPartitioned("hist",
        Seq((i.toLong, d)).toDF("v", "_load_date"), Seq("_load_date"))
    }
    val pruned = store.read("hist").filter(col("_load_date") === "2026-01-01")
    assert(pruned.count() === 3)
    val scanned = pruned.queryExecution.executedPlan.toString
    assert(scanned.contains("PartitionFilters: [isnotnull(_load_date"),
      s"partition filter must reach the scan:\n$scanned")

    // 6 appends -> >= 6 small files; compaction collapses them AND
    // keeps the partition layout (pruning still works afterwards)
    val (before, after) = store.compact("hist", Seq("_load_date"))
    assert(before >= 6 && after < before, s"before=$before after=$after")
    assert(store.read("hist").count() === 6, "compaction must not lose rows")
    val prunedAfter = store.read("hist")
      .filter(col("_load_date") === "2026-01-02")
    assert(prunedAfter.count() === 3)
    assert(prunedAfter.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(_load_date"),
      "compaction must preserve the partitioned layout")
  }

  test("router: unknown files skipped") {
    assert(BronzeReader.classify("otros_datos.csv").isEmpty)
    assert(BronzeReader.classify("empresas_1.txt").isEmpty)
    assert(BronzeReader.classify("EMPRESAS_2025.CSV").isDefined)
  }

  test("bucketed delete: requested keys only, pruned rewrite, no id reuse (r13)") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val store = new SilverStore(spark, mkTmp("silver-bdel"))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("k", StringType),
      StructField("v", StringType),
      StructField("date_created", TimestampType),
      StructField("date_updated", TimestampType)))
    def src(rows: (String, String)*) = rows.toDF("k", "v")
    MergeOps.mergeBucketed(store, "t", schema,
      src((1 to 120).map(i => s"key$i" -> s"v$i"): _*),
      Seq("k"), "id", Seq("v"))
    val ids0 = store.read("t", schema).select("k", "id").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap

    def fileState(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(store.root, "t"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.lastModified, f.length)).toMap
    }
    val before = fileState()

    val stats = MergeOps.deleteBucketed(store, "t", schema,
      Seq("key7", "key33").toDF("k"), Seq("k"))
    assert(stats.deleted === 2L)
    val after = fileState()

    // only the two keys' buckets were rewritten; the rest byte-identical
    val changed = (before.keySet ++ after.keySet)
      .filter(p => before.get(p) != after.get(p))
    val touchedDirs = changed.map(p =>
      p.split('/').find(_.startsWith("_bucket=")).getOrElse(p))
    assert(touchedDirs.size <= 2, s"too many buckets rewritten: $touchedDirs")
    assert(touchedDirs.forall(d =>
      stats.touched.map(b => s"_bucket=$b").contains(d)))
    before.keySet.filterNot(p => touchedDirs.exists(p.contains))
      .foreach(p => assert(before(p) === after(p), s"$p was rewritten"))

    // content: exactly the two keys gone, every survivor id unchanged
    val rows = store.read("t", schema).select("k", "id").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows.size === 118 && !rows.contains("key7") &&
      !rows.contains("key33"))
    rows.foreach { case (k, id) => assert(id === ids0(k)) }

    // idempotent: a replayed forget request deletes nothing and
    // rewrites nothing
    val before2 = fileState()
    val again = MergeOps.deleteBucketed(store, "t", schema,
      Seq("key7", "key33").toDF("k"), Seq("k"))
    assert(again.deleted === 0L)
    assert(fileState() === before2, "no-op delete must not rewrite files")

    // a re-inserted forgotten key gets a FRESH surrogate id — the
    // sidecar high-water mark survives the delete, ids never recycle
    MergeOps.mergeBucketed(store, "t", schema, src("key7" -> "back"),
      Seq("k"), "id", Seq("v"))
    val back = store.read("t", schema).filter(col("k") === "key7")
      .select("id").collect()(0).getInt(0)
    assert(back > 120, s"id $back reused after delete")

    // deleting a table's every key empties AND REMOVES its bucket dirs
    val store2 = new SilverStore(spark, mkTmp("silver-bdel2"))
    MergeOps.mergeBucketed(store2, "u", schema,
      src((1 to 10).map(i => s"x$i" -> "v"): _*), Seq("k"), "id", Seq("v"))
    val all = MergeOps.deleteBucketed(store2, "u", schema,
      (1 to 10).map(i => s"x$i").toDF("k"), Seq("k"))
    assert(all.deleted === 10L)
    assert(store.spark.read.schema(schema)
      .parquet(new java.io.File(store2.root, "u").getPath).count() === 0L)
    val dirs = new java.io.File(store2.root, "u").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_bucket="))
    assert(dirs.isEmpty, s"emptied buckets must be removed: ${dirs.toSeq}")
  }

  // ── one landing, every Silver table pinned ─────────────────────────

  private val vehiculoHeader = BronzeSchemas.vehiculo.fieldNames.mkString(";")

  /** The FIXTURES.md corpus as one landing: empresa, conductor,
    * vehiculo, the conductor file replayed, then a vehiculo update file
    * (UTF-8 BOM; an existing plate re-landed under another carrier, a
    * new model and designation; a new plate and brand; a reject). */
  private def landCorpus(store: SilverStore, dir: String): Unit = {
    val anaHv = q(
      """{"certificado":{"folio":"F200","fechaEmision":"02-01-2025","codigoVerificacion":"CV2"},
        |"persona":{"comuna":"MAIPU","domicilio":"PASAJE 2",
        |"infraccionesRegistradas":[{"procesoNumero":"P-7","tribunal":"JPL MAIPU","fechaDenuncia":"2021-03-04","infraccion":"LUZ ROJA","resolucion":"MULTA"},
        |{"procesoNumero":"P-8","tribunal":"JPL MAIPU","fechaDenuncia":"2022-05-06","infraccion":"VELOCIDAD","resolucion":"ABSUELTO"}]}}"""
        .stripMargin.replace("\n", ""))
    val anaLf = q("""{"clase":["B","C"],"municipalidad":"MAIPU","fecha_de_control":"2024-02-03","fecha_ultimo_control":"2030-02-03"}""")
    val conductor = writeCsv(dir, "conductores_1.csv",
      s"""driver_name;national_id;birth_date;phone_number;email;carrier_bp;driver_role;hoja_de_vida_data;licencia_frontal_data;licencia_reverso_data
         |JUAN  PEREZ;12345678-5;24-06-1990;+569111;j@x.cl;1111111;Titular;$hojaVidaJson;$licFrontalJson;$licReversoJson
         |MAL RUT;12345678-9;01-01-1990;;;1111111;Titular;;;
         |SIN EMPRESA;11111111-1;01-01-1990;;;9999999;Titular;;;
         |ANA SOTO;7654321-6;1985-03-02, 10:00;;a@x.cl;2222222;Suplente;$anaHv;$anaLf;${q("""{"codigo":"ANA-1"}""")}
         |SIN ROL;22222222-2;01-01-1990;;;1111111;;;;
         |JUAN ACTUALIZADO;12.345.678-5;25/06/1990;+569222;;1111111;Suplente;;;
         |""".stripMargin)
    val pc = q("""{"municipalidad":"MAIPU","fecha_emision":"01-03-2025","fecha_vencimiento":"31-03-2026"}""")
    val soap = q("""{"numero_poliza":987654321,"institucion_aseguradora":"ASEG 1","fecha_vencimiento_poliza":"31-03-2026"}""")
    val soap0 = q("""{"numero_poliza":0,"institucion_aseguradora":"ASEG 2","fecha_vencimiento_poliza":"01-01-2027"}""")
    val cav = q("""{"folio":"CAV-1","codigo_verificacion":"K2","fecha_emision":"15-02-2025","limitaciones_al_dominio":"NINGUNA","datos_propietario_actual":{"nombre":"EMPRESA 1","rut":"11111111-1","fecha_adquisicion":"10-10-2020"}}""")
    val status = "Aprobada;Aprobada;Rechazada;Aprobada;No Aplica;Aprobada;Aprobada;Aprobada;Aprobada;Aprobada;Rechazada;Aprobada"
    val vehiculo = writeCsv(dir, "vehiculos_1.csv", Seq(vehiculoHeader,
      s"ABCD12;1111111;2020;si;ENG1;CHS1;VIN1;123456;Lona;05-07-2021;Camion;Carga;true;12000.5;10.2;2.5;3.1;MOP-A;20;VOLVO;FH 500;01-06-2025;01-06-2026;$status;$pc;$cav;$soap",
      "NOCARRIER1;9999999;2019;no;;;;;;;Camion;Carga;false;;;;;;;VOLVO;FH 500;;;;;;;;;;;;;;;;;",
      ";1111111;2019;no;;;;;;;Camion;Carga;false;;;;;;;VOLVO;FH 500;;;;;;;;;;;;;;;;;",
      s"EFGH34;2222222;2018;no;ENG3;;;5000;;;Camion;Carga;no;9000;;;;;;VOLVO;FM 370;02-02-2025;02-02-2026;$status;;;$soap0",
      s"ABCD12;2222222;2021;verdadero;ENG2;CHS1;VIN1;99;Lona;05-07-2021;Camion;Carga;si;12000.5;10.2;2.5;3.1;MOP-A;20;VOLVO;FH 500;01-06-2025;01-06-2026;$status;;;"
    ).mkString("", "\n", "\n"))
    val update = writeCsv(dir, "vehiculos_2_update.csv", Seq("\uFEFF" + vehiculoHeader,
      s"ABCD12;2222222;2022;no;ENG9;CHS1;VIN1;150000;Lona;05-07-2021;Camion;Refrigerado;no;12500;10.2;2.5;3.1;MOP-B;22;VOLVO;FH 540;01-06-2026;01-06-2027;$status;$pc;;",
      s"WXYZ98;1111111;2017;si;ENG7;CHS7;VIN7;80000;;;Tracto;Carga;no;7000;;;;;;SCANIA;R 450;;;$status;;$cav;$soap",
      "NOMAKE1;1111111;2017;si;;;;;;;Tracto;Carga;no;;;;;;;;R 450;;;;;;;;;;;;;;;;;"
    ).mkString("", "\n", "\n"))
    val empresa = writeCsv(dir, "empresas_1.csv", empresasCsv)
    for (f <- Seq(empresa, conductor, vehiculo, conductor, update))
      EtlRunner.processFile(store, f, Some("2025-10-01"))
  }

  /** Every table under the store root as its column list plus its
    * sorted row multiset; the wall-clock audit columns are dropped. */
  private def silverTables(store: SilverStore): Map[String, Seq[String]] =
    new java.io.File(store.root).listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith("."))
      .map { d =>
        val df = store.read(d.getName).drop("date_created", "date_updated")
        d.getName -> (df.columns.mkString(",") +:
          df.collect().map(_.mkString("|")).toSeq.sorted)
      }.toMap

  test("landing characterization: every Silver row and surrogate id pinned") {
    val store = new SilverStore(spark, mkTmp("silver-char"))
    landCorpus(store, mkTmp("etl-char"))
    val tables = silverTables(store)
    def sha(lines: Seq[String]): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(lines.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
    val got = tables.map { case (t, ls) => t -> (ls.size - 1, sha(ls)) }
    // (rows, hash of the column list + sorted rows); the failure
    // message prints every table in full
    val expected = Map(
      "certificado_anotaciones_vigentes" -> (2, "330e8fed19dfb236"),
      "clase_licencia" -> (3, "e78fcee89e3aef3a"),
      "conductor" -> (2, "8a67837a4c3d0961"),
      "conductor_rol" -> (2, "cb2b40880ac998f2"),
      "empresa" -> (2, "04f0dbb6a01d59ad"),
      "hoja_vida" -> (4, "149e4b831c949793"),
      "hoja_vida_infraccion" -> (6, "c0a6e3d17cb8f056"),
      "hoja_vida_restriccion" -> (4, "631e23b3d6b36b7b"),
      "licencia" -> (4, "7cb833a187418fa9"),
      "licencia_clase" -> (8, "1b803c2d6be6f2c6"),
      "permiso_circulacion" -> (2, "0bc209acae7cadb4"),
      "quarantine_conductor" -> (6, "9d0a9255d6155c94"),
      "quarantine_empresa" -> (2, "fab2c37ca9ae641e"),
      "quarantine_vehiculo" -> (3, "152a54a84478a31f"),
      "revision_tecnica" -> (5, "7478c676b95048fb"),
      "soap" -> (3, "f04f7ea8af342cfe"),
      "tipo_designacion" -> (2, "183b36a29e3dcc47"),
      "tipo_empresa" -> (2, "b02ab0f7ac3e9ca3"),
      "tipo_vehiculo" -> (2, "e7c20200cce7f73a"),
      "vehiculo" -> (3, "8e0aaf2301d9fc36"),
      "vehiculo_marca" -> (2, "3b2c9882673baf32"),
      "vehiculo_modelo" -> (4, "539a9578ce9e26b8"))
    assert(got === expected, tables.toSeq.sortBy(_._1)
      .map { case (t, ls) => ls.mkString(s"$t:\n  ", "\n  ", "") }.mkString("\n"))
  }

  test("a landing that crashes mid-write releases its cached Bronze rows") {
    val dir = mkTmp("etl-leak")
    val store = new SilverStore(spark, mkTmp("silver-leak"))
    EtlRunner.processFile(store, writeCsv(dir, "empresas_1.csv", empresasCsv))
    val cond = writeCsv(dir, "conductores_1.csv",
      s"""driver_name;national_id;birth_date;phone_number;email;carrier_bp;driver_role;hoja_de_vida_data;licencia_frontal_data;licencia_reverso_data
         |JUAN PEREZ;12345678-5;24-06-1990;;;1111111;Titular;$hojaVidaJson;;
         |MAL RUT;12345678-9;01-01-1990;;;1111111;Titular;;;
         |""".stripMargin)
    val cached = spark.sparkContext.getPersistentRDDs.size
    // the first commit step of the landing (its conductor_rol publish)
    // runs after the flagged Bronze rows were materialized
    Commit.beforeStep = _ => throw new Error("injected crash")
    try intercept[Error](EtlRunner.processFile(store, cond))
    finally Commit.beforeStep = _ => ()
    assert(spark.sparkContext.getPersistentRDDs.size === cached)
  }
}
