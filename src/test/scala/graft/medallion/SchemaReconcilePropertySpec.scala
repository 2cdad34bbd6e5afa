package graft.medallion

import scala.util.Random

import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Seeded randomized invariants of the schema-evolution kernel
  * ([[SchemaEvolution.reconcile]]) — the algebra an evolving
  * [[Versioned.append]] leans on: re-ingesting the same
  * batch never changes the schema again (idempotence), evolution only
  * ever widens or appends (monotonicity), original column order
  * survives, and widening is direction-symmetric. Failures reproduce
  * exactly (fixed seeds in the assertion message).
  */
class SchemaReconcilePropertySpec extends SparkTestBase {

  private val safeTypes: Vector[DataType] =
    Vector(IntegerType, LongType, FloatType, DoubleType, StringType, BooleanType)

  private def genSchema(rnd: Random, pool: Seq[String]): StructType =
    StructType(rnd.shuffle(pool.toVector).take(1 + rnd.nextInt(pool.size))
      .map(n => StructField(n, safeTypes(rnd.nextInt(safeTypes.size)))))

  private def compatible(a: DataType, b: DataType): Boolean = (a, b) match {
    case _ if a == b => true
    case (ByteType | ShortType | IntegerType | LongType,
          ByteType | ShortType | IntegerType | LongType) => true
    case (FloatType | DoubleType, FloatType | DoubleType) => true
    case _ => false
  }

  test("reconcile is idempotent, monotone, order-preserving, and widen-symmetric (seeded sweep)") {
    // widening does not depend on which side holds the narrower type
    val (int, long) =
      (StructType(Seq(StructField("x", IntegerType))), StructType(Seq(StructField("x", LongType))))
    assert(Seq(SchemaEvolution.reconcile(int, long), SchemaEvolution.reconcile(long, int))
      .forall(_.fields.head.dataType == LongType))
    val pool = Seq("a", "b", "c", "d", "e")
    (1 to 200).foreach { seed =>
      val rnd = new Random(seed)
      val cur = genSchema(rnd, pool)
      val inc = genSchema(rnd, pool)
      val clash = cur.fields.exists(f =>
        inc.fields.find(_.name == f.name).exists(g => !compatible(f.dataType, g.dataType)))
      if (clash) {
        intercept[SchemaEvolution.IncompatibleSchemaException] {
          SchemaEvolution.reconcile(cur, inc)
        }
      } else {
        val out = SchemaEvolution.reconcile(cur, inc)
        // idempotence: evolving again with the same batch is a no-op
        assert(SchemaEvolution.reconcile(out, inc) == out, s"seed=$seed not idempotent")
        // and the evolved schema absorbs itself
        assert(SchemaEvolution.reconcile(out, out) == out, s"seed=$seed not reflexive")
        // order: current names first, in order; added names after, in batch order
        val curNames = cur.fields.map(_.name).toSeq
        assert(out.fields.map(_.name).take(curNames.size).toSeq == curNames,
          s"seed=$seed reordered current columns")
        // monotone: no column lost, no type narrowed
        cur.fields.foreach { f =>
          val evolved = out.fields.find(_.name == f.name).get
          assert(Seq(f.dataType, evolved.dataType).contains(evolved.dataType))
          val wider = (f.dataType, evolved.dataType) match {
            case (a, b) if a == b => true
            case (IntegerType, LongType) | (FloatType, DoubleType) => true
            case _ => false
          }
          assert(wider, s"seed=$seed narrowed ${f.name}: ${f.dataType} -> ${evolved.dataType}")
        }
        // every evolved field is nullable (old rows read NULL)
        assert(out.fields.forall(_.nullable), s"seed=$seed non-nullable evolved field")
      }
    }
  }
}
