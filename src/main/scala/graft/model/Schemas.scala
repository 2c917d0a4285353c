package graft.model

/** Domain model (SURVEY §1, FIXTURES.md §A).
  *
  * Typed edges (`Dataset[T]`) at the API boundary, untyped Column DSL
  * inside operators — window structs and JDBC-shaped frames are untyped
  * anyway (SURVEY §1.3).
  */

/** One sensor message (the Kafka JSON envelope, post-decode).
  * Reference: ingestion/ingest_data.py:63-70. */
case class SensorReading(
    timestamp: String,      // ISO-8601 'T'-separated, producer format
    machine_id: String,
    sensor_type: String,
    value: Double)

/** Machine dimension. Reference: ingest_data.py:19-24. */
case class Machine(machine_id: String, machine_type: String, location: String)

/** Sensor template dimension (Gaussian params).
  * Reference: ingest_data.py:26-31. */
case class SensorTemplate(sensor_type: String, mean: Double, stdDev: Double)
