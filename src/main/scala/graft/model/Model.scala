package graft.model

/** Core control-plane data model.
  *
  * Mirrors the reference's catalog / sync structs (see SURVEY.md §1.1):
  *  - `InfluxSchDb`      /root/reference/pkg/agent/hacluster.go:9-15
  *  - `RetPol`           /root/reference/pkg/agent/client.go:15-22
  *  - `MeasurementSch`   /root/reference/pkg/agent/hacluster.go:17-20
  *  - `FieldSch`         /root/reference/pkg/agent/hacluster.go:22-25
  *  - `ChunkReport`      /root/reference/pkg/agent/sync.go:11-22
  *  - `SyncReport`       /root/reference/pkg/agent/sync.go:55-68
  *  - `HACluster` status /root/reference/pkg/agent/hacluster.go:46-72
  *
  * These are pure data (no Spark deps) so both the batch plane and the
  * streaming plane can share them.
  */

/** Influx 1.x field types (SHOW FIELD KEYS; client.go:235-269). */
sealed abstract class FieldType(val name: String)
object FieldType {
  case object Float    extends FieldType("float")     // → DoubleType
  case object Integer  extends FieldType("integer")   // → LongType
  case object Unsigned extends FieldType("unsigned")  // → DecimalType(20,0)
  case object Bool     extends FieldType("boolean")   // → BooleanType
  case object Str      extends FieldType("string")    // → StringType
  val all: Seq[FieldType] = Seq(Float, Integer, Unsigned, Bool, Str)
  def fromName(n: String): FieldType =
    all.find(_.name == n).getOrElse(Str)
}

final case class FieldSch(name: String, ftype: FieldType)

final case class MeasurementSch(
    name: String,
    fields: Map[String, FieldSch],
    tagKeys: Seq[String] = Nil)

/** Retention policy ≅ a time-bounded table namespace.
  * `durationNs == 0` means infinite retention (client.go:24-38). */
final case class RetentionPolicy(
    name: String,
    durationNs: Long,
    shardGroupDurationNs: Long,
    nReplicas: Int,
    isDefault: Boolean,
    measurements: Seq[MeasurementSch] = Nil)

/** A database with optional rename (NewName semantics, agent.go:157-161). */
final case class DbSchema(
    name: String,
    newName: String,
    defaultRp: String,
    newDefaultRp: String,
    rps: Seq[RetentionPolicy]) {
  def targetName: String = if (newName.nonEmpty) newName else name
}

/** One time slice of a copy — the unit of parallel work and of
  * failure/recovery. Bounds are ns epochs, half-open `[startNs, endNs)` by
  * default; the reference's double-exclusive second-aligned bounds are
  * available behind ChunkPlanner's parity flag (sync.go:144-146,162). */
final case class ChunkSpec(
    id: Int,
    startNs: Long,
    endNs: Long)

/** Result of copying one chunk (≅ ChunkReport, sync.go:11-22). */
final case class ChunkResult(
    chunk: ChunkSpec,
    measurement: String,
    points: Long,
    readErrors: Long,
    writeErrors: Long,
    elapsedMs: Long) {
  def ok: Boolean = readErrors == 0 && writeErrors == 0
}

/** Whole-copy rollup (≅ SyncReport, sync.go:55-68). When post-copy
  * checksum verification ran, `checksumMismatches` lists chunks whose
  * source/dest checksums diverged (reported, not thrown: the caller
  * decides — a mismatch can also mean rows were ingested into the live
  * source after the copy scan). */
final case class SyncReport(
    db: String,
    rp: String,
    chunks: Seq[ChunkResult],
    checksumMismatches: Seq[ChunkSpec] = Nil) {
  def totalPoints: Long = chunks.map(_.points).sum
  def verified: Boolean = checksumMismatches.isEmpty
}

/** HA cluster FSM states (hacluster.go:266-370). */
sealed trait ClusterState
object ClusterState {
  case object Ok             extends ClusterState
  case object CheckSlaveDown extends ClusterState
  case object Recovering     extends ClusterState
}

/** /api/health payload (hacluster.go:46-72; README.md:786-820). */
final case class ClusterStatus(
    clusterState: String,
    clusterNumRecovers: Long,
    clusterLastRecoverDurationNs: Long,
    masterState: Boolean,
    masterLastOkNs: Long,
    slaveState: Boolean,
    slaveLastOkNs: Long)

final case class ServerCfg(
    name: String,
    location: String,
    timeoutMs: Long = 10000L)
