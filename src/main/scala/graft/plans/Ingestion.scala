package graft.plans

import graft.{functions => gf}
import graft.Checkpoints.TrackedCheckpointOps
import graft.operators.Relational
import graft.sources.XlsxSource
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType, LongType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The warehouse star schema produced by [[Ingestion]] — the reference's
  * Postgres schema (`database_utils.py:70-79,103-110,156-168,192-201,
  * 232-238,266-280`) held as DataFrames (parquet-backed managed tables in
  * production; fact/dim split drives broadcast planning).
  */
case class Warehouse(
    paymentType: DataFrame, // id_payment_type, payment_type
    store: DataFrame,       // id_store, store_name, store_url, status
    provider: DataFrame,    // id_provider, id_store, provider_url, is_active
    product: DataFrame,     // id_product, product_name, description, image_url, brand, category
    purchase: DataFrame,    // id_purchase, id_provider, id_payment_type, total, tax, ieps,
                            //   purchase_date, delivery_date, exchange_rate, shipping_cost, discount
    operation: DataFrame,   // id_purchase, id_product, quantity, unit_price, unit_price_usd,
                            //   discount_percentage, pieces_per_unit, final_cost, product_url
    price: DataFrame)       // id_product, price, offer_price, start_date, end_date

/** Pipeline 2 of the reference (`import_files_to_postgre.py`, SURVEY.md
  * §3.2) re-expressed as ONE set-oriented plan per batch of workbook
  * files — where the reference runs ≥5 SQL round-trips per row
  * (`import_files_to_postgre.py:145-227`), this runs a fixed number of
  * joins per BATCH regardless of row count.
  *
  * Stage map (reference → here):
  *  - openpyxl hyperlink walk + pandas double parse → one [[XlsxSource]]
  *    scan per sheet (values + hyperlinks together)
  *  - `deep_clean_data` (`:120-132`) → conform projections (safe_float /
  *    normalize_null / date casts)
  *  - `Picture_URL` positional zip (`:261`) → `_rownum` equi-join (W3)
  *  - `previous_link` carry (`:143-153`) → lag window (W1, one-row
  *    lookback: the reference re-assigns previous_link to the row's own
  *    possibly-empty Liga AFTER use, so a blank inherits only from the
  *    immediately-previous row — see SURVEY.md §7.3)
  *  - get_or_create store/provider (`database_utils.py:57-113`) → dim
  *    anti-joins (J4); the provider-liveness HEAD probe (`verify_url`,
  *    `utils_tools.py:92-108`) is a side-effecting call that must NOT
  *    live in a query plan — is_active defaults TRUE here and a separate
  *    quarantined enrichment stage may update it
  *  - create_product + operation/purchase match (`database_utils.py:
  *    115-173`) → product dim anti-join + exact-duplicate anti-join gate
  *    (J5)
  *  - every sequence nextval (stores, providers, products, purchases) →
  *    ONE ranked pass over the batch's new rows
  *  - insert_purchase/insert_operations (`:175-245`) → fact appends
  *  - insert_price SCD upsert (`:260-280`) → [[scdMerge]]
  *
  * Materialisations per call — the only points where the workbook, the
  * joins or the sort run; every later action reads one of them:
  *  1. the conformed Precios sheet (W3 pictures, J1 brand/category, the
  *     price rows);
  *  2. the resolvable Compras rows, after W3, J1, W1 and store
  *     resolution;
  *  3. one aggregate collecting the four existing max ids;
  *  4. the ranked union of new stores, new providers, new products and
  *     surviving fact rows ([[Relational.withStratumRankN]], stratum =
  *     row kind, order = (`_file`, `_rownum`)): each new row's id is its
  *     table's max + its rank, deterministic and in the reference's
  *     sequence order. Range-partitioned, so no single-task sort even
  *     for a backfill; only the |kinds|×P offset table is collected;
  *  5. the purchase rows with their dim ids, read by the purchase,
  *     operation and price writes.
  * The dims are derived from (4), so no write re-parses a workbook.
  * Every checkpoint goes through [[graft.Checkpoints.cp]]: on the
  * session ledger for a caller-run batch, or held by the micro-batch's
  * [[graft.Checkpoints.scope]] and freed once its commit returns
  * ([[graft.streaming.IngestStream]]).
  */
object Ingestion {

  /** Seed warehouse: the payment-type catalog the reference assumes
    * pre-exists (`CAT_PAYMENT_TYPE`, `database_utils.py:29-37`; constant
    * lookup key "Tarjeta de Crédito" at `import_files_to_postgre.py:183`).
    */
  def empty(spark: SparkSession): Warehouse = {
    import spark.implicits._
    Warehouse(
      paymentType = Seq((1L, "Tarjeta de Crédito"))
        .toDF("id_payment_type", "payment_type"),
      store = Seq.empty[(Long, String, String, Boolean)]
        .toDF("id_store", "store_name", "store_url", "status"),
      provider = Seq.empty[(Long, Long, String, Boolean)]
        .toDF("id_provider", "id_store", "provider_url", "is_active"),
      product = Seq.empty[(Long, String, String, String, String, String)]
        .toDF("id_product", "product_name", "description", "image_url", "brand", "category"),
      purchase = Seq.empty[(Long, Long, Long, Double, Double, Double, java.sql.Date, String, Double, Double, Double)]
        .toDF("id_purchase", "id_provider", "id_payment_type", "total", "tax", "ieps",
          "purchase_date", "delivery_date", "exchange_rate", "shipping_cost", "discount"),
      operation = Seq.empty[(Long, Long, Int, Double, Double, Double, Int, Double, String)]
        .toDF("id_purchase", "id_product", "quantity", "unit_price", "unit_price_usd",
          "discount_percentage", "pieces_per_unit", "final_cost", "product_url"),
      price = Seq.empty[(Long, Double, Double, java.sql.Date, java.sql.Date)]
        .toDF("id_product", "price", "offer_price", "start_date", "end_date"))
  }

  /** Ingest every .xlsx under `path` into `existing`, returning the new
    * warehouse state. Batch-idempotent: re-running over already-ingested
    * files is a no-op for facts (the J5 gate), matching the reference's
    * transactional replay safety (SURVEY.md §4.2).
    */
  def ingestWorkbooks(spark: SparkSession, path: String,
                      existing: Warehouse): Warehouse = {
    val batchDate = current_date() // CURRENT_DATE of the SCD merge

    // ---- scan (S2/S3): values + hyperlinks in one parse per sheet, then
    // conform (deep_clean_data, `import_files_to_postgre.py:120-132`)
    val compras = conform(XlsxSource.read(spark, path, "Compras"),
      numeric = Seq("Cant", "Precio", "% Desc", "C. Unit US", "C. Unit", "Total Cmpr",
        "Envio", "Dólar", "Desct", "Pzs", "Costo Final"),
      dates = Seq("Fch Cmpr"))
    val precios = conform(
        XlsxSource.read(spark, path, "Precios", hyperlinkCols = Seq("Preview")),
        numeric = Seq("P. Tienda", "C. Unit", "P. Venta", "P. Oferta"),
        dates = Seq.empty)
      .select(Seq("_file", "_rownum", "_hyperlink_Preview", "Descripción", "Marca",
        "Categoria", "P. Venta", "P. Oferta").map(qcol): _*)
      .trackedCheckpoint() // materialisation 1: W3, J1 and prices read it

    // ---- W3 positional zip (`:261`): Precios!Preview hyperlink list
    // aligned to Compras rows by position within the same file. A Preview
    // cell WITHOUT a hyperlink contributes "" (extract_hyperlinks appends
    // "" per row, `import_files_to_postgre.py:59-60`, and deep_clean does
    // NOT null empty strings); only positions past the Precios row count
    // stay null.
    val pics = precios.select(col("_file"), col("_rownum"),
      coalesce(col("_hyperlink_Preview"), lit("")).as("Picture_URL"))
    val withPic = compras.join(pics, Seq("_file", "_rownum"), "left")

    // ---- J1 enrich (`:93-97`): brand/category by Descripción; build side
    // deduped to first match for the reference's iloc[0] semantics
    val brandCat = Relational.firstPerKey(
      precios.select(col("_file"), col("_rownum"), qcol("Descripción"),
        col("Marca"), col("Categoria")),
      keys = Seq(col("_file"), qcol("Descripción")),
      orderBy = Seq(col("_rownum")))
      .drop("_rownum")
    val enriched = withPic.join(broadcast(brandCat), Seq("_file", "Descripción"), "left")

    // ---- W1 forward-fill (`:143-153`), one-row lookback on the RAW value
    val wFile = Window.partitionBy(col("_file")).orderBy(col("_rownum"))
    val liga = col("Liga")
    val rows = enriched.withColumn("str_link",
      when(truthy(liga), liga).otherwise(lag(liga, 1).over(wFile)))

    // ---- store resolution (C7/C9, `database_utils.py:57-83`); F4: an
    // unresolvable store → the row contributes nothing (`:60-65`)
    val resolvable = rows
      .withColumn("store_name", gf.store_name(col("str_link")))
      .withColumn("store_url", gf.domain_store(col("str_link")))
      .withColumn("provider_url", gf.provider_url(col("str_link")))
      .filter(col("store_name").isNotNull && col("store_name") =!= "none")
      .select((Seq("_file", "_rownum", "store_name", "store_url", "provider_url",
        "Picture_URL", "Marca", "Categoria") ++ factCols).map(qcol): _*)
      .trackedCheckpoint() // materialisation 2: every later stage reads it

    // ---- store dim (J4/M1): first occurrence wins store_url ----
    val newStores = Relational.firstPerKey(
      resolvable.select(col("store_name"), col("store_url"), col("_file"), col("_rownum")),
      keys = Seq(col("store_name")), orderBy = Seq(col("_file"), col("_rownum")))
      .join(existing.store.select("store_name"), Seq("store_name"), "left_anti")

    // ---- provider dim (J4/M2): key (store, provider_url), the store by
    // name — store_name ↔ id_store is 1:1 in the store dim, so this needs
    // no new store's id. is_active would come from the quarantined
    // URL-liveness stage (C10). A null provider_url (a bare "ML" link)
    // never anti-joins away: it creates its provider row every batch.
    val newProviders = Relational.firstPerKey(
      resolvable.select(col("store_name"), col("provider_url"), col("_file"), col("_rownum")),
      keys = Seq(col("store_name"), col("provider_url")),
      orderBy = Seq(col("_file"), col("_rownum")))
      .join(existing.provider.join(existing.store.select("id_store", "store_name"), "id_store")
        .select("store_name", "provider_url"), Seq("store_name", "provider_url"), "left_anti")

    // ---- F2/F3 fact filters (`import_files_to_postgre.py:162-172`);
    // NB the dims above intentionally saw canceled rows too — the
    // reference creates store/provider BEFORE these skips. A row without
    // a provider_url has no provider to join and never becomes a fact.
    val facts0 = resolvable
      .filter(col("provider_url").isNotNull)
      .filter(!(qcol("Fch Entrga").isNotNull && qcol("Fch Entrga").contains("CANCELED")))
      .filter(qcol("Descripción").isNotNull && trim(qcol("Descripción")) =!= "")

    // ---- J5 dedup gate (`database_utils.py:128-145`): first occurrence
    // per exact (product, quantity, unit_price, purchase_date) in the
    // batch, minus combos already in the warehouse
    val dedupKey = Seq("Descripción", "quantity_k", "unit_price_k", "purchase_date_k")
    val keyed = facts0
      .withColumn("quantity_k", col("Cant").cast(IntegerType))
      .withColumn("unit_price_k", qcol("C. Unit"))
      .withColumn("purchase_date_k", qcol("Fch Cmpr"))
    val existingCombos = existing.operation
      .join(existing.purchase.select("id_purchase", "purchase_date"), Seq("id_purchase"))
      .join(existing.product.select("id_product", "product_name"), Seq("id_product"))
      .select(col("product_name").as("Descripción"),
        col("quantity").as("quantity_k"),
        col("unit_price").as("unit_price_k"),
        col("purchase_date").as("purchase_date_k"))
    val facts = Relational.firstPerKey(keyed, dedupKey.map(col),
        Seq(col("_file"), col("_rownum")))
      .join(existingCombos, dedupKey, "left_anti")
      .drop("quantity_k", "unit_price_k", "purchase_date_k")

    // ---- product dim (M2): conditional brand/category columns → one
    // nullable schema (`database_utils.py:149-171`)
    val newProducts = Relational.firstPerKey(
      facts.select(qcol("Descripción").as("product_name"),
        col("Picture_URL").as("image_url"),
        when(truthy(col("Marca")) && truthy(col("Categoria")), col("Marca")).as("brand"),
        when(truthy(col("Marca")) && truthy(col("Categoria")), col("Categoria")).as("category"),
        col("_file"), col("_rownum")),
      keys = Seq(col("product_name")), orderBy = Seq(col("_file"), col("_rownum")))
      .join(existing.product.select("product_name"), Seq("product_name"), "left_anti")

    // ---- surrogate ids: one ranked pass for every new row; id = the
    // table's max + rank over (_file, _rownum) — the reference's
    // sequence order. Materialisations 3 (one collect of four longs) and
    // 4 (the ranked union, checkpointed inside withStratumRankN).
    val maxIds = existingMaxIds(existing)
    val ranked = Relational.withStratumRankN(
        Seq(StoreRow -> newStores, ProviderRow -> newProviders, ProductRow -> newProducts,
            FactRow -> facts.drop("Picture_URL", "Marca", "Categoria"))
          .map { case (kind, df) => df.withColumn("__kind", lit(kind)) }
          .reduce(_.unionByName(_, allowMissingColumns = true)),
        stratum = Seq("__kind"), order = Seq(col("_file"), col("_rownum")),
        as = "__rank", nAs = "__n")
      .withColumn("__id", col("__rank") + maxIds.foldLeft(lit(0L)) {
        case (acc, (kind, maxId)) => when(col("__kind") === kind, lit(maxId)).otherwise(acc)
      })
    def newRows(kind: Int) = ranked.filter(col("__kind") === kind)

    val store = existing.store.unionByName(newRows(StoreRow)
      .select(col("__id").as("id_store"), col("store_name"), col("store_url"),
        lit(true).as("status")))
    val storeIds = broadcast(store.select("id_store", "store_name"))
    val provider = existing.provider.unionByName(newRows(ProviderRow)
      .join(storeIds, Seq("store_name"))
      .select(col("__id").as("id_provider"), col("id_store"), col("provider_url"),
        lit(true).as("is_active")))
    val product = existing.product.unionByName(newRows(ProductRow)
      .select(col("__id").as("id_product"), col("product_name"),
        lit("").as("description"), // create_product is called with descr=""
        col("image_url"), col("brand"), col("category")))

    // ---- fact rows with their dim ids (materialisation 5) ----
    val purchaseRows = newRows(FactRow)
      .join(storeIds, Seq("store_name"))
      .join(broadcast(provider.select("id_provider", "id_store", "provider_url")),
        Seq("id_store", "provider_url"))
      .join(broadcast(product.select(col("id_product"), col("product_name").as("Descripción"))),
        Seq("Descripción"))
      .select((Seq(col("__id").as("id_purchase"), col("id_provider"), col("id_product")) ++
        (Seq("_file", "_rownum") ++ factCols).map(qcol)): _*)
      .trackedCheckpoint()

    // ---- purchase fact (M3, `database_utils.py:175-204`) ----
    val idPayment = existing.paymentType
      .filter(col("payment_type") === "Tarjeta de Crédito")
      .select(col("id_payment_type"))
    val purchase = existing.purchase.unionByName(
      purchaseRows
        .crossJoin(broadcast(idPayment)) // constant dim key J3 (`:183`)
        .select(col("id_purchase"),
          col("id_provider"),
          col("id_payment_type").cast(LongType),
          qcol("Total Cmpr").as("total"),
          lit(0.0).as("tax"), lit(0.0).as("ieps"),
          qcol("Fch Cmpr").as("purchase_date"),
          qcol("Fch Entrga").as("delivery_date"),
          qcol("Dólar").as("exchange_rate"),
          coalesce(col("Envio"), lit(0.0)).as("shipping_cost"),
          coalesce(col("Desct"), lit(0.0)).as("discount")))

    // ---- operation fact (M3, `database_utils.py:206-245`) ----
    val operation = existing.operation.unionByName(
      purchaseRows.select(col("id_purchase"), col("id_product"),
        coalesce(col("Cant").cast(IntegerType), lit(0)).as("quantity"),
        coalesce(qcol("C. Unit"), lit(0.0)).as("unit_price"),
        qcol("C. Unit US").as("unit_price_usd"),
        coalesce(qcol("% Desc"), lit(0.0)).as("discount_percentage"),
        coalesce(col("Pzs").cast(IntegerType), lit(1)).as("pieces_per_unit"),
        qcol("Costo Final").as("final_cost"),
        gf.truncate500(coalesce(col("Liga"), lit(""))).as("product_url")))

    // ---- price SCD merge (M4, `database_utils.py:260-280`): J6 semi
    // (price only when the product appears in Precios) + C12 pricing
    val priceRow = Relational.firstPerKey(
      precios.select(col("_file"), col("_rownum"), qcol("Descripción"),
        qcol("P. Venta"), qcol("P. Oferta")),
      keys = Seq(col("_file"), qcol("Descripción")), orderBy = Seq(col("_rownum")))
    val priced = purchaseRows
      .join(priceRow.select(col("_file"), qcol("Descripción"),
        qcol("P. Venta"), qcol("P. Oferta")), Seq("_file", "Descripción"))
      .withColumn("price", gf.derived_price(qcol("P. Venta"), qcol("Costo Final")))
      .withColumn("offer_price", gf.derived_offer(qcol("P. Oferta"), col("price")))
    // last write wins: the reference updates price per surviving row in
    // sequence, so the final state is the LAST row's value per product
    val incomingPrices = Relational.firstPerKey(priced,
      Seq(col("id_product")), Seq(col("_file").desc, col("_rownum").desc))
      .select("id_product", "price", "offer_price")
    val price = scdMerge(existing.price, incomingPrices, batchDate)

    Warehouse(existing.paymentType, store, provider, product, purchase, operation, price)
  }

  /** M4 SCD-style price upsert (`database_utils.py:260-280`): matched
    * products update price/offer_price and move start/end_date to `asOf`
    * when the price changed; unmatched insert with start_date=`asOf`.
    * Delta-capable sinks express this exact shape as `MERGE INTO`.
    */
  def scdMerge(current: DataFrame, updates: DataFrame, asOf: Column): DataFrame = {
    val u = updates.select(col("id_product").as("u_id"),
      col("price").as("u_price"), col("offer_price").as("u_offer"))
    val matched = current.join(broadcast(u), col("id_product") === col("u_id"), "left")
      .select(col("id_product"),
        coalesce(col("u_price"), col("price")).as("price"),
        coalesce(col("u_offer"), col("offer_price")).as("offer_price"),
        when(col("u_id").isNotNull && !(col("price") <=> col("u_price")), asOf)
          .otherwise(col("start_date")).as("start_date"),
        when(col("u_id").isNotNull && !(col("price") <=> col("u_price")), asOf)
          .otherwise(col("end_date")).as("end_date"))
    val inserted = u.join(current.select(col("id_product").as("u_id")), Seq("u_id"), "left_anti")
      .select(col("u_id").as("id_product"), col("u_price").as("price"),
        col("u_offer").as("offer_price"), asOf.as("start_date"),
        lit(null).cast(DateType).as("end_date"))
    matched.unionByName(inserted)
  }

  /** Column ref with backtick quoting — sheet headers carry dots and
    * spaces ("C. Unit", "P. Venta") that bare col() would parse as nested
    * field access.
    */
  private def qcol(name: String): Column = col(s"`$name`")

  /** Pandas truthiness (SURVEY.md §7.3 falsy-vs-null): None and '' are
    * falsy for strings.
    */
  private def truthy(c: Column): Column = c.isNotNull && c =!= ""

  private def conform(df: DataFrame, numeric: Seq[String], dates: Seq[String]): DataFrame =
    graft.operators.Conform.conform(df,
      graft.operators.Conform.Contract(
        required = Seq("Descripción"), numeric = numeric, dates = dates))

  /** Compras columns the fact, operation and price projections read. */
  private val factCols = Seq("Descripción", "Cant", "C. Unit", "C. Unit US", "% Desc",
    "Pzs", "Costo Final", "Total Cmpr", "Fch Cmpr", "Fch Entrga", "Dólar", "Envio",
    "Desct", "Liga")

  // Row kinds of the ranked id pass: the stratum of each new row.
  private val StoreRow = 0
  private val ProviderRow = 1
  private val ProductRow = 2
  private val FactRow = 3

  /** Row kind → max id of its table (0 when empty): one aggregate over
    * store, provider, product and purchase, collected once.
    */
  private def existingMaxIds(wh: Warehouse): Map[Int, Long] = {
    val tables = Seq(StoreRow -> (wh.store, "id_store"),
      ProviderRow -> (wh.provider, "id_provider"), ProductRow -> (wh.product, "id_product"),
      FactRow -> (wh.purchase, "id_purchase"))
    val maxes = tables
      .map { case (kind, (df, id)) =>
        df.select(lit(kind).as("__kind"), col(id).cast(LongType).as("__id")) }
      .reduce(_.unionByName(_))
      .groupBy("__kind").agg(coalesce(max("__id"), lit(0L)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    tables.map { case (kind, _) => kind -> maxes.getOrElse(kind, 0L) }.toMap
  }
}
