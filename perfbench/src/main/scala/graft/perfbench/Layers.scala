package graft.perfbench

import java.lang.invoke.SerializedLambda

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, Handle, MethodVisitor, Opcodes}

/** Which engine layers each registry entry calls.
  *
  * A registry value is a serializable Scala lambda; its implementation
  * method is read from the class file, and every call it makes is mapped
  * to a layer. Calls into `SparkEntry`'s own helpers and nested lambdas are
  * followed, calls into a layer module are not (a module calling another
  * module is that module's business, not the entry's). */
object Layers {
  private val relational =
    Set("RelationalOps", "JoinOps", "AggOps", "WindowOps", "SortSetOps",
      "AuditQueries", "QualityOps")

  def layerOf(owner: String, method: String): Option[String] = {
    val cls = owner.replace('/', '.').stripSuffix("$")
    val simple = cls.substring(cls.lastIndexOf('.') + 1)
    if (cls.startsWith("graft.operators.") && relational(simple)) Some("relational")
    else cls match {
      case "graft.operators.GraphOps" => Some("graph")
      case "graft.operators.SimOps" => Some("sim")
      case "graft.operators.LlmOps" => Some("dedup")
      case "graft.operators.TextOps" => Some("text")
      case "graft.operators.PipelineOps" => Some("pipeline")
      case "graft.streaming.StreamOps" => Some("stream")
      case "graft.plans.MergeableCatalog" => Some("sinks")
      case "graft.sources.EtlOps" =>
        Some(if (method.startsWith("sink") || method.startsWith("sql")) "sinks" else "sources")
      case c if c.startsWith("graft.sources.") => Some("sources")
      case _ => None
    }
  }

  private val followed = Set("graft/SparkEntry$", "graft/SparkEntry")
  private val classes = mutable.Map.empty[String, Map[String, Seq[(String, String)]]]

  /** method name -> (owner, name) of every call and lambda handle in it */
  private def calls(cls: String): Map[String, Seq[(String, String)]] =
    classes.getOrElseUpdate(cls, {
      val out = mutable.Map.empty[String, mutable.ArrayBuffer[(String, String)]]
      val in = getClass.getClassLoader.getResourceAsStream(cls + ".class")
      try new ClassReader(in).accept(new ClassVisitor(Opcodes.ASM9) {
        override def visitMethod(access: Int, name: String, desc: String,
            sig: String, exc: Array[String]): MethodVisitor = {
          val buf = out.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
          new MethodVisitor(Opcodes.ASM9) {
            override def visitMethodInsn(op: Int, owner: String, n: String,
                d: String, itf: Boolean): Unit = buf += ((owner, n))
            override def visitInvokeDynamicInsn(n: String, d: String, bsm: Handle,
                args: Object*): Unit = args.foreach {
              case h: Handle => buf += ((h.getOwner, h.getName))
              case _ =>
            }
          }
        }
      }, 0)
      finally in.close()
      out.map { case (k, v) => k -> v.toSeq }.toMap
    })

  def of(names: Seq[String]): Map[String, Seq[String]] =
    names.map(n => n -> (try layersOf(graft.SparkEntry.queries(n)) catch {
      case NonFatal(_) => Seq.empty
    })).toMap

  private def layersOf(fn: AnyRef): Seq[String] = {
    val wr = fn.getClass.getDeclaredMethod("writeReplace")
    wr.setAccessible(true)
    val sl = wr.invoke(fn).asInstanceOf[SerializedLambda]
    val found = mutable.LinkedHashSet.empty[String]
    val seen = mutable.Set.empty[(String, String)]
    def visit(cls: String, method: String): Unit =
      if (seen.add((cls, method)))
        calls(cls).getOrElse(method, Nil).foreach { case (owner, name) =>
          layerOf(owner, name) match {
            case Some(layer) => found += layer
            case None => if (followed(owner)) visit(owner, name)
          }
        }
    visit(sl.getImplClass, sl.getImplMethodName)
    found.toSeq
  }
}
