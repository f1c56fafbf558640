package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.{GraftFunctions => F}

/** Result counters per processed file batch — the Spark equivalent of
  * the reference's per-file `rowCount/processedCount/errorCount` logs
  * (SURVEY §2 D3, e.g. `services/empresa.ts:119-121`), plus the
  * quarantine DataFrame (H6/H7: per-row transactions + error capture
  * become validate-and-split). */
final case class EtlResult(rowCount: Long, processed: Long, errors: Long,
                           rejects: DataFrame)

private[etl] object PipelineUtil {
  /** Conform to a Silver schema: select columns in order, cast, stamp
    * audit timestamps. */
  def conformTo(df: DataFrame,
                schema: StructType): DataFrame = {
    val now = current_timestamp()
    df.select(schema.fields.map { f =>
      f.name match {
        case "date_created" => now.as("date_created")
        case "date_updated" => now.as("date_updated")
        case n => col(n).cast(f.dataType).as(n)
      }
    }.toIndexedSeq: _*)
  }

  /** Validate-and-split one Bronze file (H6/H7: per-row transactions +
    * error capture), load its accepted rows with `load`, and finish the
    * file: run counters and quarantine. `reason` names a row's first
    * failed check (null = accepted). The flagged rows are persisted once
    * — they feed the load, the counters and the quarantine instead of
    * three scan+validate re-executions — and released however `load`
    * ends. */
  def land(store: SilverStore, entity: String, bronze: DataFrame,
           conformed: DataFrame, reason: Column)
          (load: DataFrame => Unit): EtlResult = {
    val flagged = conformed.withColumn("error_reason", reason).persist()
    try {
      val rejects = flagged.filter(col("error_reason").isNotNull)
        .select((bronze.columns.map(col) :+ col("error_reason")).toIndexedSeq: _*)
      load(flagged.filter(col("error_reason").isNull))
      // D3 run counters in ONE aggregation job (count(col) counts non-nulls)
      val row = flagged.agg(count(lit(1)), count(col("error_reason"))).head
      val (total, errors) = (row.getLong(0), row.getLong(1))
      // append-only quarantine — the reference's per-row error log
      // (`services/empresa.ts:110-116`) — partitioned by `_load_date`
      // so one day's rejects prune to one partition directory
      if (errors > 0)
        store.appendPartitioned(s"quarantine_$entity", rejects, Seq("_load_date"))
      EtlResult(total, total - errors, errors, rejects)
    } finally flagged.unpersist()
  }

  /** "RETURNING id" (SURVEY §7): `rows` joined on `rowKey` to the id
    * their natural key `key` has in `table` after the upsert. */
  def withIds(store: SilverStore, table: String,
              schema: StructType, key: String,
              rows: DataFrame, rowKey: String): DataFrame =
    rows.join(broadcast(store.read(table, schema)
        .select(col(schema.fieldNames.head), col(key).as("_id_key"))),
      col(rowKey) === col("_id_key")).drop("_id_key")

  /** H4/H5 historized append: `rows` take ids continuing `table`'s max
    * in `order` and are appended conformed to `schema`, whose first
    * field is the id (every Silver schema leads with its SERIAL).
    * `shape` runs only when there are rows (a dimension sync the rows
    * need must not run for none). Returns the id-stamped rows for the
    * table's own children; None when there were no rows. */
  def appendChild(store: SilverStore, table: String,
                  schema: StructType,
                  rows: DataFrame, order: Seq[Column],
                  shape: DataFrame => DataFrame = identity): Option[DataFrame] =
    if (rows.isEmpty) None
    else {
      val idCol = schema.fieldNames.head
      val withId = SurrogateId.assign(shape(rows), idCol,
        SurrogateId.maxOf(store.read(table, schema), idCol), order)
      store.append(table, conformTo(withId, schema))
      Some(withId)
    }
}

/** Companies ETL (`services/empresa.ts:1-131`, SURVEY §2 B1/B4/D1/H1).
  *
  * bronze -> cleanse (F1/F2) -> validate-split -> tipo_empresa
  * get-or-create -> last-wins dedup -> MERGE into empresa on carrier_bp.
  */
object EmpresaPipeline {
  import PipelineUtil._

  def run(store: SilverStore, bronze: DataFrame): EtlResult = {
    // B1 cleanse + rename (`empresa.ts:55-58`)
    val conformed = bronze
      .withColumn("carrier_type_c", F.clean_text(col("carrier_type")))
      .withColumn("carrier_name_c", F.clean_text(col("carrier_name")))
      .withColumn("carrier_bp_c", F.clean_text(col("carrier_bp")))
      .withColumn("carrier_rut", F.rut_format(col("carrier_tin")))

    // B4 required-field predicate (`empresa.ts:63-69`)
    val reason = when(col("_corrupt").isNotNull, "fila corrupta")
      .when(col("carrier_type_c").isNull, "carrier_type vacío")
      .when(col("carrier_name_c").isNull, "carrier_name vacío")
      .when(col("carrier_rut").isNull,
        concat(lit("RUT inválido: '"), coalesce(col("carrier_tin"), lit("")), lit("'")))
      .when(col("carrier_bp_c").isNull, "carrier_bp vacío")

    land(store, "empresa", bronze, conformed, reason) { accepted =>
      // D1 get-or-create tipo_empresa (`empresa.ts:73-90`)
      val tipoDim = DimOps.sync(store, "tipo_empresa", "carrier_type_id",
        Seq("carrier_type"),
        accepted.select(col("carrier_type_c").as("carrier_type")))

      // D4 last-wins + H1 merge (`empresa.ts:92-106`)
      val source = MergeOps.lastWins(accepted, Seq("carrier_bp_c"))
        .join(broadcast(tipoDim.select(col("carrier_type_id"),
            col("carrier_type").as("_dim_ct"))),
          col("carrier_type_c") === col("_dim_ct"), "left")
        .select(
          col("carrier_bp_c").as("carrier_bp"),
          col("carrier_name_c").as("carrier_name"),
          col("carrier_rut"),
          col("carrier_type_id"))

      // bucketed MERGE: scans + rewrites only buckets with source keys,
      // not the whole table (MergeOps.mergeBucketed)
      MergeOps.mergeBucketed(store, "empresa", SilverSchemas.empresa, source,
        Seq("carrier_bp"), "carrier_id",
        Seq("carrier_name", "carrier_rut", "carrier_type_id"))
    }
  }
}

/** Drivers ETL (`services/conductor.ts:1-282`, SURVEY §2 B2/B5/C1/D1/
  * G1-G4/H2/H4). Requires empresa to be loaded first (FK dependency,
  * §7 build order). */
object ConductorPipeline {
  import PipelineUtil._

  def run(store: SilverStore, bronze: DataFrame): EtlResult = {
    val empresa = store.read("empresa", SilverSchemas.empresa)
      .select(col("carrier_id"), col("carrier_bp").as("_emp_bp"))

    val conformed = bronze
      .withColumn("conductor_rut", F.rut_format(col("national_id")))
      .withColumn("carrier_bp_c", F.clean_text(col("carrier_bp")))
      .withColumn("driver_role_c", F.clean_text(col("driver_role")))
      // C1 carrier lookup — dims broadcast (cache preload, SURVEY §4)
      .join(broadcast(empresa), col("carrier_bp_c") === col("_emp_bp"), "left")

    // B5 validation order mirrors `conductor.ts:85-106`
    val reason = when(col("_corrupt").isNotNull, "fila corrupta")
      .when(col("conductor_rut").isNull,
        concat(lit("RUT inválido: '"), coalesce(col("national_id"), lit("")), lit("'")))
      .when(col("carrier_id").isNull,
        concat(lit("Empresa con carrier_bp '"), coalesce(col("carrier_bp_c"), lit("")),
          lit("' no encontrada.")))
      .when(col("driver_role_c").isNull, "'driver_role' está vacío.")

    land(store, "conductor", bronze, conformed, reason) { valid =>
      val accepted = valid
        .withColumn("conductor_nombre", F.clean_text(col("driver_name")))
        .withColumn("conductor_fecha_nacimiento", F.safe_to_date(col("birth_date")))
        .withColumn("conductor_telefono", F.clean_text(col("phone_number")))
        .withColumn("conductor_email", F.clean_text(col("email")))

      // D1 conductor_rol (`conductor.ts:108-115`)
      val rolDim = DimOps.sync(store, "conductor_rol", "conductor_rol_id",
        Seq("conductor_rol"),
        accepted.select(col("driver_role_c").as("conductor_rol")))

      // H2 merge on conductor_rut (`conductor.ts:117-143`)
      val source = MergeOps.lastWins(accepted, Seq("conductor_rut"))
        .join(broadcast(rolDim.select(col("conductor_rol_id"),
            col("conductor_rol").as("_dim_rol"))),
          col("driver_role_c") === col("_dim_rol"), "left")
        .select(col("conductor_rut"), col("carrier_id"), col("conductor_rol_id"),
          col("conductor_nombre"), col("conductor_fecha_nacimiento"),
          col("conductor_telefono"), col("conductor_email"))

      MergeOps.mergeBucketed(store, "conductor", SilverSchemas.conductor, source,
        Seq("conductor_rut"), "conductor_id",
        Seq("carrier_id", "conductor_rol_id", "conductor_nombre",
          "conductor_fecha_nacimiento", "conductor_telefono", "conductor_email"))

      val withId = withIds(store, "conductor", SilverSchemas.conductor,
        "conductor_rut", accepted, "conductor_rut")
      appendHojaVida(store, withId)
      appendLicencia(store, withId)
    }
  }

  /** H4 historized hoja_vida + G1-G3 children. Reference appends one
    * hoja_vida per accepted row whose payload has `certificado`
    * (`conductor.ts:146-165`) — duplicates on replay are faithful. */
  private def appendHojaVida(store: SilverStore, withId: DataFrame): Unit = {
    val parsed = withId
      .filter(col("hoja_de_vida_data").isNotNull)
      .withColumn("_hv", from_json(col("hoja_de_vida_data"), PayloadSchemas.hojaVida))
      .filter(col("_hv.certificado").isNotNull)
      .withColumn("folio", F.clean_json_text(col("_hv.certificado.folio")))
      .withColumn("codigo_verificacion", F.clean_json_text(col("_hv.certificado.codigoVerificacion")))
      .withColumn("fecha_emision", F.safe_to_date(col("_hv.certificado.fechaEmision")))
      .withColumn("comuna", F.clean_json_text(col("_hv.persona.comuna")))
      .withColumn("domicilio", F.clean_json_text(col("_hv.persona.domicilio")))

    appendChild(store, "hoja_vida", SilverSchemas.hojaVida, parsed,
        Seq(col("conductor_rut"), col("_row_id"))).foreach { hv =>
      // G1+G2: both arrays land in hoja_vida_restriccion, restricciones
      // first (`conductor.ts:168-189`)
      val childCols = Seq(col("hoja_vida_id"), col("_src"), col("_pos"),
        col("fecha_anotacion"), col("restriccion"))
      val rest = hv.select(col("hoja_vida_id"), lit(0).as("_src"),
          posexplode(col("_hv.persona.restriccionesLicencia")).as(Seq("_pos", "_e")))
        .withColumn("fecha_anotacion", F.safe_to_date(col("_e.fechaAnotacion")))
        .withColumn("restriccion", F.clean_json_text(col("_e.bloqueRestriccionLicencia")))
        .select(childCols: _*)
      val dur = hv.select(col("hoja_vida_id"), lit(1).as("_src"),
          posexplode(col("_hv.persona.duracionesRestringidas")).as(Seq("_pos", "_e")))
        .withColumn("fecha_anotacion", F.safe_to_date(col("_e.fechaAnotacion")))
        .withColumn("restriccion", F.clean_json_text(col("_e.bloqueDuracionRestringida")))
        .select(childCols: _*)
      appendChild(store, "hoja_vida_restriccion", SilverSchemas.hojaVidaRestriccion,
        rest.unionByName(dur), Seq(col("hoja_vida_id"), col("_src"), col("_pos")))

      // G3: infracciones (`conductor.ts:192-208`)
      val infr = hv.select(col("hoja_vida_id"),
          posexplode(col("_hv.persona.infraccionesRegistradas")).as(Seq("_pos", "_e")))
        .withColumn("proceso", F.clean_json_text(col("_e.procesoNumero")))
        .withColumn("tribunal", F.clean_json_text(col("_e.tribunal")))
        .withColumn("fecha_denuncia", F.safe_to_date(col("_e.fechaDenuncia")))
        .withColumn("infraccion", F.clean_json_text(col("_e.infraccion")))
        .withColumn("resolucion", F.clean_json_text(col("_e.resolucion")))
      appendChild(store, "hoja_vida_infraccion", SilverSchemas.hojaVidaInfraccion,
        infr, Seq(col("hoja_vida_id"), col("_pos")))
    }
  }

  /** H4 licencia + G4 clase bridge (`conductor.ts:213-256`): only when
    * BOTH frontal and reverso payloads are present. */
  private def appendLicencia(store: SilverStore, withId: DataFrame): Unit = {
    val parsed = withId
      .filter(col("licencia_frontal_data").isNotNull &&
        col("licencia_reverso_data").isNotNull)
      .withColumn("_lf", from_json(col("licencia_frontal_data"), PayloadSchemas.licenciaFrontal))
      .withColumn("_lr", from_json(col("licencia_reverso_data"), PayloadSchemas.licenciaReverso))
      .withColumn("municipalidad", F.clean_json_text(col("_lf.municipalidad")))
      .withColumn("fecha_de_control", F.safe_to_date(col("_lf.fecha_de_control")))
      .withColumn("fecha_ultimo_control", F.safe_to_date(col("_lf.fecha_ultimo_control")))
      .withColumn("codigo", F.clean_json_text(col("_lr.codigo")))

    appendChild(store, "licencia", SilverSchemas.licencia, parsed,
        Seq(col("conductor_rut"), col("_row_id"))).foreach { lic =>
      // G4: explode clase -> get-or-create clase_licencia -> bridge
      val clase = lic.select(col("licencia_id"),
        posexplode(col("_lf.clase")).as(Seq("_pos", "clase_licencia")))
      appendChild(store, "licencia_clase", SilverSchemas.licenciaClase, clase,
        Seq(col("licencia_id"), col("_pos")), shape = { c =>
          val claseDim = DimOps.sync(store, "clase_licencia", "clase_licencia_id",
            Seq("clase_licencia"), c.select("clase_licencia"))
          c.join(broadcast(claseDim.select("clase_licencia_id", "clase_licencia")),
            Seq("clase_licencia"), "left")
        })
    }
  }
}
