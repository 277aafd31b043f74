package graft

/** Canonical entity columns of the reference engine.
  *
  * The reference declares its entities as pydantic models (reference
  * schema.py:13-46) but never enforces them on data; here only their
  * required-column lists survive, as the targets of `Transforms.normalize`'s
  * warn-only validation (reference transformers.py:71-90).
  */
object Schemas {

  /** Required-column lists used by the normalize step's warn-only validation
    * (reference transformers.py:71-90). Keys are the `data_type` tags the
    * reference attaches at transformers.py:94.
    */
  val requiredColumns: Map[String, Seq[String]] = Map(
    "stock" -> Seq("timestamp", "symbol", "open", "high", "low", "close", "volume", "source"),
    "forex" -> Seq("timestamp", "from_currency", "to_currency", "rate", "source"),
    "economic" -> Seq("timestamp", "indicator", "value", "country", "source"),
    "crypto" -> Seq("timestamp", "symbol", "price", "source")
  )
}
